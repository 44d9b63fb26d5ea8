"""Crawl-archive ingest: WARC records and compressed-text payloads.

Beyond-reference block (SURVEY.md §2 final row). Web-scale training
corpora arrive as WARC archives (ISO 28500 — the Common Crawl
container: concatenated records, usually one gzip member per record)
and as compressed text blobs (gzip/bz2/xz/zlib, all stdlib). This
module is the ingest layer that turns those opaque ``binary`` columns
into text rows the corpus operators consume:

* ``parse_warc`` / ``warc_records`` — record-structure walk: version
  line, named headers, Content-Length-delimited payload, per-record
  gzip members. Malformed input raises NAMED ValueErrors (the
  ``parse_mp3_metadata`` contract) — a truncated crawl shard should
  fail loudly, not yield half a record.
* ``decompress_bytes`` / ``decompress_text`` — the codec is NAMED by
  the caller; there is no silent sniff-routing (the
  ``decode_images`` contract: a mis-sniffed payload must never
  quietly decompress as the wrong thing). Container triage is the
  separate, explicit :func:`detect_compression` step: partition the
  mixed corpus by sniffed codec first, then hand each bucket to
  ``decompress_text`` with the codec named.
* ``synthesize_warc`` — fixtures fabricate REAL archives
  hermetically, so oracles can verify the full roundtrip against the
  source text without seeing a payload byte.

Design for scale: every operator here is one map-only Arrow-batched
``mapInPandas`` — archive bytes die inside the task and only the
extracted rows (record metadata + text) shuffle. At 100 TB the input
is a binary column read straight off Parquet/WARC-in-object-store;
per-task memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` times the largest
archive, and the decompression hot loop is stdlib zlib/bz2/lzma C
code, not Python bytecode.
"""

from __future__ import annotations

import bz2 as _bz2
import hashlib
import lzma as _lzma
import zlib as _zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gbif_filter_python_spark.multimodal.binary_ops import sniff_payloads

# --------------------------------------------------------------------------
# WARC (ISO 28500)
# --------------------------------------------------------------------------

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"


def _warc_uuid(seed: int, idx: int) -> str:
    """Deterministic RFC-4122-shaped record id (md5-derived) so
    synthesized archives are byte-stable across runs."""
    h = hashlib.md5(f"warc:{seed}:{idx}".encode()).hexdigest()
    return (
        f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def synthesize_warc(
    records: list[dict],
    gzip_members: bool = False,
    seed: int = 0,
) -> bytes:
    """Build a real WARC/1.0 archive from record dicts — the
    roundtrip partner for :func:`parse_warc`. Each dict carries
    ``warc_type`` (warcinfo/request/response/...), optional
    ``target_uri``, ``content_type``, and ``payload`` (bytes).
    ``gzip_members=True`` wraps EACH record in its own gzip member
    and concatenates them — the ``.warc.gz`` convention crawl dumps
    actually use (member-per-record keeps records independently
    seekable)."""
    out = []
    for i, rec in enumerate(records):
        payload = rec.get("payload", b"")
        lines = [
            b"WARC/1.0",
            b"WARC-Type: " + rec["warc_type"].encode("ascii"),
            b"WARC-Record-ID: " + _warc_uuid(seed, i).encode("ascii"),
            b"WARC-Date: 2026-01-01T00:00:00Z",
        ]
        if rec.get("target_uri"):
            lines.append(
                b"WARC-Target-URI: " + rec["target_uri"].encode("ascii")
            )
        lines.append(
            b"Content-Type: "
            + rec.get("content_type", "text/plain").encode("ascii")
        )
        lines.append(b"Content-Length: " + str(len(payload)).encode())
        member = (
            _CRLF.join(lines) + _CRLF + _CRLF + payload + _CRLF + _CRLF
        )
        if gzip_members:
            co = _zlib.compressobj(6, _zlib.DEFLATED, 16 + 15)
            member = co.compress(member) + co.flush()
        out.append(member)
    return b"".join(out)


def _gzip_members(payload: bytes) -> Iterator[bytes]:
    """Decompress a stream of CONCATENATED gzip members (the .warc.gz
    layout; also multi-member .gz files) one member at a time via
    ``unused_data``. Truncated or corrupt members raise NAMED
    ValueErrors."""
    buf = payload
    while buf:
        d = _zlib.decompressobj(16 + 15)
        try:
            chunk = d.decompress(buf)
        except _zlib.error as exc:
            raise ValueError(f"gzip member corrupt: {exc}") from exc
        if not d.eof:
            raise ValueError("gzip member truncated mid-stream")
        yield chunk + d.flush()
        buf = d.unused_data


def parse_warc(payload: bytes) -> list[dict]:
    """WARC/1.0 record-structure walk (ISO 28500): version line,
    colon headers, ``Content-Length``-delimited payload, two-CRLF
    record terminator; transparently iterates per-record gzip members
    when the archive leads with the gzip magic. Returns one dict per
    record: ``warc_type``, ``record_id``, ``target_uri`` (None when
    absent, e.g. warcinfo), ``content_type``, ``content_length``,
    ``payload`` (bytes). Truncated headers, a missing version line or
    Content-Length, payload overruns and broken terminators all raise
    NAMED ValueErrors — loud triage, never half a record."""
    if payload[:2] == _GZIP_MAGIC:
        data = b"".join(_gzip_members(payload))
    else:
        data = payload
    records = []
    pos = 0
    while pos < len(data):
        # tolerate inter-record CRLF padding
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= len(data):
            break
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError(
                f"WARC header block at byte {pos} has no terminating "
                "blank line"
            )
        head = data[pos:head_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(
                f"WARC record at byte {pos} missing version line "
                f"(got {lines[0][:20]!r})"
            )
        hdrs: dict[str, str] = {}
        for ln in lines[1:]:
            if ":" not in ln:
                raise ValueError(
                    f"WARC header line without colon: {ln[:40]!r}"
                )
            k, v = ln.split(":", 1)
            hdrs[k.strip().lower()] = v.strip()
        if "content-length" not in hdrs:
            raise ValueError(
                f"WARC record at byte {pos} missing Content-Length"
            )
        try:
            clen = int(hdrs["content-length"])
        except ValueError as exc:
            raise ValueError(
                "WARC Content-Length is not an integer: "
                f"{hdrs['content-length']!r}"
            ) from exc
        if clen < 0:
            raise ValueError(
                f"WARC Content-Length is negative: {clen}"
            )
        if "warc-type" not in hdrs:
            raise ValueError(
                f"WARC record at byte {pos} missing WARC-Type"
            )
        body_start = head_end + 4
        body_end = body_start + clen
        if body_end + 4 > len(data):
            raise ValueError(
                f"WARC record payload ({clen} bytes at byte "
                f"{body_start}) overruns the archive"
            )
        if data[body_end : body_end + 4] != _CRLF + _CRLF:
            raise ValueError(
                f"WARC record at byte {pos} missing the two-CRLF "
                "terminator after its payload"
            )
        records.append(
            {
                "warc_type": hdrs["warc-type"],
                "record_id": hdrs.get("warc-record-id"),
                "target_uri": hdrs.get("warc-target-uri"),
                "content_type": hdrs.get("content-type"),
                "content_length": clen,
                "payload": data[body_start:body_end],
            }
        )
        pos = body_end + 4
    return records


#: Output schema of :func:`warc_records` — fixed so downstream plans
#: bind before any task runs.
WARC_RECORDS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("rec_idx", IntegerType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("content_type", StringType()),
        StructField("content_length", LongType()),
        StructField("payload_text", StringType()),
    ]
)


def warc_records(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Distributed WARC explode: one map-only Arrow-batched
    mapInPandas of :func:`parse_warc` per archive — emits one row per
    record with its metadata plus ``payload_text`` (UTF-8 decoded)
    for ``text/*`` records, NULL otherwise, so binary payloads never
    leave the task as strings. Archive bytes die inside the task;
    only the record rows shuffle — at 100 TB that is the whole
    ingest data-motion story."""
    out_cols = [f.name for f in WARC_RECORDS_SCHEMA.fields]
    schema = StructType(
        [StructField(id_col, LongType())]
        + [f for f in WARC_RECORDS_SCHEMA.fields if f.name != "media_id"]
    )

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(
                pdf[id_col].astype("int64"), pdf[payload_col]
            ):
                for i, rec in enumerate(parse_warc(p)):
                    ctype = rec["content_type"] or ""
                    text = (
                        rec["payload"].decode("utf-8", errors="replace")
                        if ctype.startswith("text/")
                        else None
                    )
                    rows.append(
                        (
                            mid,
                            i,
                            rec["warc_type"],
                            rec["target_uri"],
                            rec["content_type"],
                            rec["content_length"],
                            text,
                        )
                    )
            yield pd.DataFrame(rows, columns=[id_col] + out_cols[1:])

    return df.select(id_col, payload_col).mapInPandas(
        _explode, schema=schema
    )


# --------------------------------------------------------------------------
# Compressed text payloads (gzip / bz2 / xz / zlib — all stdlib)
# --------------------------------------------------------------------------

COMPRESSION_CODECS = ("gzip", "bz2", "xz", "zlib")


def compress_bytes(data: bytes, codec: str) -> bytes:
    """Compress with a NAMED stdlib codec — the fixture-side partner
    of :func:`decompress_bytes`."""
    if codec == "gzip":
        co = _zlib.compressobj(6, _zlib.DEFLATED, 16 + 15)
        return co.compress(data) + co.flush()
    if codec == "zlib":
        return _zlib.compress(data, 6)
    if codec == "bz2":
        return _bz2.compress(data, 6)
    if codec == "xz":
        return _lzma.compress(data, preset=1)
    raise ValueError(f"unknown compression codec {codec!r}")


def decompress_bytes(data: bytes, codec: str) -> bytes:
    """Decompress a NAMED stdlib codec. gzip handles concatenated
    multi-member streams (the crawl-shard layout). Corrupt or
    truncated input raises a NAMED ValueError carrying the codec —
    never a bare library exception."""
    try:
        if codec == "gzip":
            return b"".join(_gzip_members(data))
        if codec == "zlib":
            return _zlib.decompress(data)
        if codec == "bz2":
            return _bz2.decompress(data)
        if codec == "xz":
            return _lzma.decompress(data)
    except ValueError:
        raise
    except Exception as exc:
        raise ValueError(f"{codec} payload corrupt: {exc}") from exc
    raise ValueError(f"unknown compression codec {codec!r}")


def detect_compression_bytes(payload: bytes) -> str:
    """Compression TRIAGE from magic bytes — ``'gzip' | 'bz2' | 'xz'
    | 'zlib' | 'none'``. The sniff-to-PARTITION primitive: bucket a
    mixed dump by codec, then route each bucket to
    :func:`decompress_text` with the codec NAMED (this function never
    feeds silent decode routing). The zlib check goes beyond the
    first byte: the two-byte header must pass the spec's mod-31
    checksum, or random ``0x78`` leads would be misbinned."""
    p = payload or b""
    if p[:2] == _GZIP_MAGIC and len(p) >= 3 and p[2] == 8:
        return "gzip"
    if p[:3] == b"BZh" and len(p) >= 4 and 0x31 <= p[3] <= 0x39:
        return "bz2"
    if p[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if (
        len(p) >= 2
        and p[0] == 0x78
        and (p[0] * 256 + p[1]) % 31 == 0
    ):
        return "zlib"
    return "none"


def detect_compression(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Distributed compression sniff: ``binary_ops.sniff_payloads`` of
    :func:`detect_compression_bytes` — emits ``(id, codec, n_bytes)``
    for partition-by-codec routing. Payload bytes die in the task."""
    return sniff_payloads(df, payload_col, id_col, detect_compression_bytes)


def decompress_text(
    df: DataFrame,
    codec: str | None = None,
    codec_col: str | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
    encoding: str = "utf-8",
) -> DataFrame:
    """Distributed decompress-to-text with the codec NAMED — either
    one codec for the whole column (``codec=``, the
    partitioned-bucket path) or a per-row codec column
    (``codec_col=``, carrying an EXPLICIT upstream assignment such as
    a validated :func:`detect_compression` pass the caller chose to
    trust). Exactly one must be given; there is no implicit sniffing
    here. Emits ``(id, codec, text, compressed_bytes, text_bytes)``
    — map-only, payloads die in the task, only text rows shuffle."""
    if (codec is None) == (codec_col is None):
        raise ValueError(
            "decompress_text needs exactly one of codec= or codec_col="
        )
    if codec is not None and codec not in COMPRESSION_CODECS:
        raise ValueError(f"unknown compression codec {codec!r}")
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("codec", StringType()),
            StructField("text", StringType()),
            StructField("compressed_bytes", LongType()),
            StructField("text_bytes", LongType()),
        ]
    )
    in_cols = [id_col, payload_col] + (
        [codec_col] if codec_col else []
    )

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codecs = (
                pdf[codec_col]
                if codec_col
                else pd.Series([codec] * len(pdf))
            )
            raws = [
                decompress_bytes(p, c)
                for p, c in zip(pdf[payload_col], codecs)
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "codec": list(codecs),
                    "text": [r.decode(encoding) for r in raws],
                    "compressed_bytes": [
                        len(p or b"") for p in pdf[payload_col]
                    ],
                    "text_bytes": [len(r) for r in raws],
                }
            )

    return df.select(*in_cols).mapInPandas(_unpack, schema=schema)


# --------------------------------------------------------------------------
# ZIP (APPNOTE.TXT) — own end-of-central-directory + central-directory
# walk and member extraction (stored + deflate via stdlib zlib, CRC32
# verified). Fixtures are built with stdlib zipfile, which shares no
# parsing code with this walk — builder and parser cross-check each
# other. Document bundles and model checkpoints ship as ZIPs; listing
# members WITHOUT extracting is the triage step that decides what a
# 100 TB dump even contains.
# --------------------------------------------------------------------------

_ZIP_EOCD = b"PK\x05\x06"
_ZIP_CDH = b"PK\x01\x02"
_ZIP_LFH = b"PK\x03\x04"


def build_zip(
    members: list[tuple[str, bytes]],
    deflate_every_other: bool = True,
) -> bytes:
    """Fixture builder via stdlib zipfile (deliberately NOT this
    module's parser): members alternate stored/deflated when
    ``deflate_every_other`` so both extraction paths are exercised."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for i, (name, data) in enumerate(members):
            method = (
                zipfile.ZIP_DEFLATED
                if deflate_every_other and i % 2
                else zipfile.ZIP_STORED
            )
            zf.writestr(
                zipfile.ZipInfo(name, (2026, 1, 1, 0, 0, 0)),
                data,
                compress_type=method,
            )
    return buf.getvalue()


def parse_zip(payload: bytes) -> list[dict]:
    """Own central-directory walk: locate the EOCD record from the
    tail (≤64 KiB comment scan per APPNOTE), then read each central
    header — name, method, sizes, CRC-32, local-header offset —
    WITHOUT touching member data. Zip64, encrypted members and
    malformed structure raise NAMED ValueErrors."""
    import struct

    tail_from = max(0, len(payload) - 65557)
    eocd = payload.rfind(_ZIP_EOCD, tail_from)
    if eocd < 0:
        raise ValueError(
            "not a ZIP payload (no end-of-central-directory record)"
        )
    if eocd + 22 > len(payload):
        raise ValueError("ZIP end-of-central-directory truncated")
    (
        _disk,
        _cd_disk,
        _n_disk,
        n_entries,
        cd_size,
        cd_off,
        _clen,
    ) = struct.unpack_from("<HHHHIIH", payload, eocd + 4)
    if n_entries == 0xFFFF or cd_off == 0xFFFFFFFF:
        raise ValueError("zip64 archives are out of parse scope")
    if cd_off + cd_size > len(payload):
        raise ValueError("ZIP central directory overruns the payload")
    entries = []
    pos = cd_off
    for i in range(n_entries):
        if payload[pos : pos + 4] != _ZIP_CDH:
            raise ValueError(
                f"ZIP central header {i} missing its signature at "
                f"byte {pos}"
            )
        if pos + 46 > len(payload):
            raise ValueError(
                f"ZIP central header {i} truncated at byte {pos}"
            )
        (
            _ver_made,
            _ver_need,
            flags,
            method,
            _time,
            _date,
            crc,
            csize,
            usize,
            nlen,
            elen,
            clen,
            _disk_no,
            _iattr,
            _eattr,
            lfh_off,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", payload, pos + 4)
        if flags & 0x1:
            raise ValueError(
                f"ZIP member {i} is encrypted — out of parse scope"
            )
        name_off = pos + 46
        if name_off + nlen > len(payload):
            raise ValueError(f"ZIP member {i} name overruns the payload")
        entries.append(
            {
                "name": payload[name_off : name_off + nlen].decode(
                    "utf-8", errors="replace"
                ),
                "method": method,
                "compressed_size": csize,
                "uncompressed_size": usize,
                "crc32": crc,
                "local_header_offset": lfh_off,
            }
        )
        pos = name_off + nlen + elen + clen
    return entries


def extract_zip_member(payload: bytes, entry: dict) -> bytes:
    """Extract one :func:`parse_zip` entry via its local header:
    stored (0) copied, deflate (8) inflated with raw stdlib zlib; the
    result must match both the declared size and the CRC-32, else a
    NAMED ValueError."""
    import struct
    import zlib

    off = entry["local_header_offset"]
    if payload[off : off + 4] != _ZIP_LFH:
        raise ValueError(
            f"ZIP local header for {entry['name']!r} missing at byte "
            f"{off}"
        )
    if off + 30 > len(payload):
        raise ValueError(
            f"ZIP local header for {entry['name']!r} truncated"
        )
    nlen, elen = struct.unpack_from("<HH", payload, off + 26)
    data_off = off + 30 + nlen + elen
    csize = entry["compressed_size"]
    if data_off + csize > len(payload):
        raise ValueError(
            f"ZIP member {entry['name']!r} data overruns the payload"
        )
    blob = payload[data_off : data_off + csize]
    method = entry["method"]
    if method == 0:
        raw = blob
    elif method == 8:
        try:
            raw = zlib.decompress(blob, -15)
        except zlib.error as exc:
            raise ValueError(
                f"ZIP member {entry['name']!r} deflate stream corrupt: "
                f"{exc}"
            ) from exc
    else:
        raise ValueError(
            f"ZIP compression method {method} is out of extract scope "
            "(stored and deflate only)"
        )
    if len(raw) != entry["uncompressed_size"]:
        raise ValueError(
            f"ZIP member {entry['name']!r} inflated to {len(raw)} "
            f"bytes, expected {entry['uncompressed_size']}"
        )
    if (zlib.crc32(raw) & 0xFFFFFFFF) != entry["crc32"]:
        raise ValueError(
            f"ZIP member {entry['name']!r} fails its CRC-32 check"
        )
    return raw


#: Output schema of :func:`zip_members`.
ZIP_MEMBERS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("member_idx", IntegerType()),
        StructField("name", StringType()),
        StructField("method", IntegerType()),
        StructField("uncompressed_size", LongType()),
        StructField("crc_ok", StringType()),
        StructField("text", StringType()),
    ]
)


def zip_members(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    extract_text: bool = True,
) -> DataFrame:
    """Distributed ZIP listing/extraction: one map-only Arrow-batched
    mapInPandas — one row per member with its central-directory
    metadata plus (optionally) the extracted UTF-8 text, CRC-verified.
    Archive bytes die inside the task; only member rows shuffle. With
    ``extract_text=False`` this is the pure triage pass: no member
    data is ever inflated."""
    schema = StructType(
        [StructField(id_col, LongType())]
        + [f for f in ZIP_MEMBERS_SCHEMA.fields if f.name != "media_id"]
    )

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(
                pdf[id_col].astype("int64"), pdf[payload_col]
            ):
                for i, e in enumerate(parse_zip(p)):
                    if extract_text:
                        raw = extract_zip_member(p, e)
                        crc_ok, text = "ok", raw.decode(
                            "utf-8", errors="replace"
                        )
                    else:
                        crc_ok, text = "unchecked", None
                    rows.append(
                        (
                            mid,
                            i,
                            e["name"],
                            e["method"],
                            e["uncompressed_size"],
                            crc_ok,
                            text,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in schema.fields],
            )

    return df.select(id_col, payload_col).mapInPandas(
        _walk, schema=schema
    )


# --------------------------------------------------------------------------
# TAR (POSIX ustar) — own 512-byte block-header walk with octal field
# parsing and header-checksum verification. Fixtures are built with
# stdlib tarfile (no shared parsing code). Dataset drops and model
# artifacts ship as tarballs, usually inside the gzip layer this
# module already handles.
# --------------------------------------------------------------------------


def build_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Fixture builder via stdlib tarfile (deliberately NOT this
    module's parser)."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def parse_tar(payload: bytes) -> list[dict]:
    """Own ustar walk: 512-byte headers (name, octal size, typeflag,
    ustar magic), the spec's space-initialized header checksum
    verified on every block, content blocks skipped by rounded size,
    end detected at two zero blocks. Malformed headers, checksum
    mismatches and truncated content raise NAMED ValueErrors.
    Returns ``name``, ``size``, ``typeflag``, ``payload`` per
    member."""
    if len(payload) % 512:
        raise ValueError(
            f"tar payload length {len(payload)} is not a multiple of "
            "512"
        )
    members = []
    pos = 0
    while pos + 512 <= len(payload):
        block = payload[pos : pos + 512]
        if block == b"\x00" * 512:
            break
        if block[257:263] != b"ustar\x00" and block[257:262] != b"ustar":
            raise ValueError(
                f"tar header at byte {pos} missing the ustar magic"
            )
        try:
            declared = int(block[148:156].split(b"\x00")[0].strip() or b"0", 8)
            size = int(block[124:136].split(b"\x00")[0].strip() or b"0", 8)
        except ValueError as exc:
            raise ValueError(
                f"tar header at byte {pos} has non-octal size/checksum"
            ) from exc
        summed = sum(block[:148]) + 8 * 0x20 + sum(block[156:])
        if summed != declared:
            raise ValueError(
                f"tar header at byte {pos} fails its checksum "
                f"({summed} != {declared})"
            )
        name = block[0:100].split(b"\x00")[0].decode(
            "utf-8", errors="replace"
        )
        typeflag = chr(block[156]) if block[156] else "0"
        data_end = pos + 512 + size
        if data_end > len(payload):
            raise ValueError(
                f"tar member {name!r} content overruns the payload"
            )
        members.append(
            {
                "name": name,
                "size": size,
                "typeflag": typeflag,
                "payload": payload[pos + 512 : data_end],
            }
        )
        pos = pos + 512 + ((size + 511) // 512) * 512
    return members


#: Output schema of :func:`tar_members`.
TAR_MEMBERS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("member_idx", IntegerType()),
        StructField("name", StringType()),
        StructField("size", LongType()),
        StructField("typeflag", StringType()),
        StructField("text", StringType()),
    ]
)


def tar_members(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Distributed tar listing: map-only Arrow-batched mapInPandas of
    :func:`parse_tar` — one row per member with UTF-8 text for
    regular files. Handles the ``.tar.gz`` crawl convention by
    transparently decompressing a leading gzip layer (the explicit
    :func:`decompress_text` contract does not apply here: gzip-around-
    tar is part of the tar container convention, and the tar magic is
    still verified after stripping it). Archive bytes die inside the
    task."""
    schema = StructType(
        [StructField(id_col, LongType())]
        + [f for f in TAR_MEMBERS_SCHEMA.fields if f.name != "media_id"]
    )

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(
                pdf[id_col].astype("int64"), pdf[payload_col]
            ):
                if p[:2] == _GZIP_MAGIC:
                    p = b"".join(_gzip_members(p))
                for i, m in enumerate(parse_tar(p)):
                    rows.append(
                        (
                            mid,
                            i,
                            m["name"],
                            m["size"],
                            m["typeflag"],
                            m["payload"].decode("utf-8", errors="replace")
                            if m["typeflag"] == "0"
                            else None,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(
        _walk, schema=schema
    )


# --------------------------------------------------------------------------
# Model-checkpoint triage: safetensors and GGUF header walks. A
# training-data platform inventories model artifacts as much as
# corpora — which tensors a checkpoint holds, their dtypes/shapes, and
# the metadata a GGUF file carries decide routing long before any
# weight is loaded. Both formats are public and header-parseable
# WITHOUT reading tensor data, which is the whole point at
# multi-GB-per-file scale.
# --------------------------------------------------------------------------

_SAFETENSORS_DTYPE_BYTES = {
    "F64": 8, "F32": 4, "F16": 2, "BF16": 2,
    "I64": 8, "I32": 4, "I16": 2, "I8": 1, "U8": 1, "BOOL": 1,
}


def build_safetensors(tensors: dict[str, "np.ndarray"]) -> bytes:
    """Fixture builder for the safetensors layout: 8-byte LE header
    length + JSON header ({name: {dtype, shape, data_offsets}}) +
    contiguous raw tensor bytes. NumPy float32/int64/etc. map onto
    the format's dtype names."""
    import json

    import numpy as np

    np_map = {
        np.dtype("float64"): "F64", np.dtype("float32"): "F32",
        np.dtype("float16"): "F16", np.dtype("int64"): "I64",
        np.dtype("int32"): "I32", np.dtype("int16"): "I16",
        np.dtype("int8"): "I8", np.dtype("uint8"): "U8",
        np.dtype("bool"): "BOOL",
    }
    header = {}
    blobs = []
    off = 0
    for name, arr in tensors.items():
        arr = np.ascontiguousarray(arr)
        if arr.dtype not in np_map:
            raise ValueError(
                f"unsupported tensor dtype {arr.dtype} for {name!r}"
            )
        raw = arr.tobytes()
        header[name] = {
            "dtype": np_map[arr.dtype],
            "shape": list(arr.shape),
            "data_offsets": [off, off + len(raw)],
        }
        off += len(raw)
        blobs.append(raw)
    hjson = json.dumps(header, sort_keys=True).encode()
    return (
        len(hjson).to_bytes(8, "little") + hjson + b"".join(blobs)
    )


def parse_safetensors(payload: bytes) -> list[dict]:
    """safetensors header walk WITHOUT touching tensor data: one dict
    per tensor — ``name``, ``dtype``, ``shape``, ``n_elements``,
    ``n_bytes`` — with the structural invariants VERIFIED: offsets
    in-bounds and consistent with dtype×shape, the ``__metadata__``
    entry skipped per spec. Malformed headers raise NAMED
    ValueErrors."""
    import json

    if len(payload) < 8:
        raise ValueError("safetensors payload shorter than its length prefix")
    hlen = int.from_bytes(payload[:8], "little")
    if 8 + hlen > len(payload):
        raise ValueError(
            f"safetensors header length {hlen} overruns the payload"
        )
    try:
        header = json.loads(payload[8 : 8 + hlen])
    except json.JSONDecodeError as exc:
        raise ValueError(
            f"safetensors header is not valid JSON: {exc}"
        ) from exc
    if not isinstance(header, dict):
        raise ValueError("safetensors header is not a JSON object")
    data_len = len(payload) - 8 - hlen
    out = []
    for name, info in header.items():
        if name == "__metadata__":
            continue
        dtype = info.get("dtype")
        shape = info.get("shape")
        offs = info.get("data_offsets")
        if dtype not in _SAFETENSORS_DTYPE_BYTES:
            raise ValueError(
                f"safetensors tensor {name!r} has unknown dtype "
                f"{dtype!r}"
            )
        if (
            not isinstance(shape, list)
            or not all(isinstance(d, int) and d >= 0 for d in shape)
        ):
            raise ValueError(
                f"safetensors tensor {name!r} has a malformed shape"
            )
        if (
            not isinstance(offs, list)
            or len(offs) != 2
            or offs[0] > offs[1]
            or offs[1] > data_len
        ):
            raise ValueError(
                f"safetensors tensor {name!r} has out-of-bounds "
                "data_offsets"
            )
        n_el = 1
        for d in shape:
            n_el *= d
        want = n_el * _SAFETENSORS_DTYPE_BYTES[dtype]
        if offs[1] - offs[0] != want:
            raise ValueError(
                f"safetensors tensor {name!r} spans "
                f"{offs[1] - offs[0]} bytes but dtype x shape needs "
                f"{want}"
            )
        out.append(
            {
                "name": name,
                "dtype": dtype,
                "shape": shape,
                "n_elements": n_el,
                "n_bytes": want,
            }
        )
    return out


_GGUF_TYPES = {
    0: ("u8", 1), 1: ("i8", 1), 2: ("u16", 2), 3: ("i16", 2),
    4: ("u32", 4), 5: ("i32", 4), 6: ("f32", 4), 7: ("bool", 1),
    8: ("string", None), 9: ("array", None), 10: ("u64", 8),
    11: ("i64", 8), 12: ("f64", 8),
}

#: ggml tensor dtype id → name (the common quantization set)
_GGUF_TENSOR_TYPES = {
    0: "f32", 1: "f16", 2: "q4_0", 3: "q4_1", 6: "q5_0", 7: "q5_1",
    8: "q8_0", 9: "q8_1", 10: "q2_k", 11: "q3_k", 12: "q4_k",
    13: "q5_k", 14: "q6_k", 15: "q8_k", 24: "i8", 25: "i16",
    26: "i32", 27: "i64", 28: "f64", 30: "bf16",
}


def build_gguf(
    metadata: dict,
    tensors: list[tuple[str, list[int], int]],
    version: int = 3,
) -> bytes:
    """Fixture builder for the GGUF v3 layout: magic, version, tensor
    count, metadata key-values (str/int/float/bool/list supported),
    tensor infos (name, dims, ggml type id, offset). Tensor DATA is
    deliberately not written — this builds the header a triage pass
    reads, offsets are synthetic."""
    import struct

    def s(txt: str) -> bytes:
        b = txt.encode()
        return struct.pack("<Q", len(b)) + b

    def kv_value(v) -> bytes:
        if isinstance(v, bool):
            return struct.pack("<I", 7) + struct.pack("<B", v)
        if isinstance(v, int):
            return struct.pack("<I", 11) + struct.pack("<q", v)
        if isinstance(v, float):
            return struct.pack("<I", 12) + struct.pack("<d", v)
        if isinstance(v, str):
            return struct.pack("<I", 8) + s(v)
        if isinstance(v, list):
            if not v or not isinstance(v[0], int):
                raise ValueError("only int arrays supported in builder")
            return (
                struct.pack("<I", 9)
                + struct.pack("<I", 11)
                + struct.pack("<Q", len(v))
                + b"".join(struct.pack("<q", x) for x in v)
            )
        raise ValueError(f"unsupported metadata value {v!r}")

    out = bytearray(b"GGUF")
    out += struct.pack("<I", version)
    out += struct.pack("<Q", len(tensors))
    out += struct.pack("<Q", len(metadata))
    for k, v in metadata.items():
        out += s(k) + kv_value(v)
    off = 0
    for name, dims, ttype in tensors:
        out += s(name)
        out += struct.pack("<I", len(dims))
        for d in dims:
            out += struct.pack("<Q", d)
        out += struct.pack("<I", ttype)
        out += struct.pack("<Q", off)
        n_el = 1
        for d in dims:
            n_el *= d
        off += n_el  # synthetic: one "byte" per element
    return bytes(out)


def parse_gguf(payload: bytes) -> dict:
    """GGUF header walk (ggerganov's llama.cpp model container)
    WITHOUT reading tensor data: returns ``version``, ``metadata``
    (typed key-values incl. strings/arrays), and ``tensors`` — one
    dict per tensor with ``name``, ``dims``, ``type`` (ggml dtype
    name), ``n_elements``, ``offset``. Truncation anywhere and
    unknown type ids raise NAMED ValueErrors."""
    import struct

    def need(n: int, what: str) -> None:
        if pos[0] + n > len(payload):
            raise ValueError(f"GGUF truncated reading {what}")

    pos = [0]

    def take(fmt: str, what: str):
        n = struct.calcsize(fmt)
        need(n, what)
        v = struct.unpack_from(fmt, payload, pos[0])
        pos[0] += n
        return v if len(v) > 1 else v[0]

    def take_str(what: str) -> str:
        n = take("<Q", f"{what} length")
        need(n, what)
        v = payload[pos[0] : pos[0] + n].decode(
            "utf-8", errors="replace"
        )
        pos[0] += n
        return v

    def take_value(tid: int, what: str):
        if tid not in _GGUF_TYPES:
            raise ValueError(f"GGUF value type {tid} unknown ({what})")
        name, size = _GGUF_TYPES[tid]
        if name == "string":
            return take_str(what)
        if name == "array":
            etid = take("<I", f"{what} element type")
            n = take("<Q", f"{what} array length")
            if n > 1_000_000:
                raise ValueError(
                    f"GGUF array {what} declares {n} elements — "
                    "implausible for a header"
                )
            return [take_value(etid, what) for _ in range(n)]
        fmt = {
            "u8": "<B", "i8": "<b", "u16": "<H", "i16": "<h",
            "u32": "<I", "i32": "<i", "f32": "<f", "bool": "<B",
            "u64": "<Q", "i64": "<q", "f64": "<d",
        }[name]
        v = take(fmt, what)
        return bool(v) if name == "bool" else v

    if payload[:4] != b"GGUF":
        raise ValueError("not a GGUF payload (missing GGUF magic)")
    pos[0] = 4
    version = take("<I", "version")
    if version not in (2, 3):
        raise ValueError(f"GGUF version {version} is out of parse scope")
    n_tensors = take("<Q", "tensor count")
    n_kv = take("<Q", "metadata count")
    if n_tensors > 1_000_000 or n_kv > 1_000_000:
        raise ValueError("GGUF header counts are implausibly large")
    metadata = {}
    for _ in range(n_kv):
        k = take_str("metadata key")
        tid = take("<I", f"metadata {k!r} type")
        metadata[k] = take_value(tid, f"metadata {k!r}")
    tensors = []
    for _ in range(n_tensors):
        name = take_str("tensor name")
        ndim = take("<I", f"tensor {name!r} ndim")
        if ndim > 8:
            raise ValueError(
                f"GGUF tensor {name!r} declares {ndim} dimensions"
            )
        dims = [take("<Q", f"tensor {name!r} dim") for _ in range(ndim)]
        ttype = take("<I", f"tensor {name!r} type")
        if ttype not in _GGUF_TENSOR_TYPES:
            raise ValueError(
                f"GGUF tensor {name!r} has unknown ggml type {ttype}"
            )
        offset = take("<Q", f"tensor {name!r} offset")
        n_el = 1
        for d in dims:
            n_el *= d
        tensors.append(
            {
                "name": name,
                "dims": dims,
                "type": _GGUF_TENSOR_TYPES[ttype],
                "n_elements": n_el,
                "offset": offset,
            }
        )
    return {
        "version": version,
        "metadata": metadata,
        "tensors": tensors,
    }


#: Output schema of :func:`checkpoint_tensors`.
CHECKPOINT_TENSORS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("fmt", StringType()),
        StructField("tensor_idx", IntegerType()),
        StructField("name", StringType()),
        StructField("dtype", StringType()),
        StructField("shape", StringType()),
        StructField("n_elements", LongType()),
    ]
)


def checkpoint_tensors(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Distributed checkpoint triage: sniffs safetensors (8-byte
    length + '{' JSON lead) vs GGUF (magic) per payload — the two
    formats are structurally unambiguous, so this is magic-byte
    routing, not content guessing — and emits one row per tensor
    with name/dtype/shape/element count. Map-only mapInPandas;
    checkpoint bytes die in the task, only the inventory rows
    shuffle (the point: at multi-GB per checkpoint, the inventory is
    what a 100 TB artifact store queries)."""
    schema = StructType(
        [StructField(id_col, LongType())]
        + [
            f
            for f in CHECKPOINT_TENSORS_SCHEMA.fields
            if f.name != "media_id"
        ]
    )

    def _walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(
                pdf[id_col].astype("int64"), pdf[payload_col]
            ):
                if p[:4] == b"GGUF":
                    for i, t in enumerate(parse_gguf(p)["tensors"]):
                        rows.append(
                            (
                                mid,
                                "gguf",
                                i,
                                t["name"],
                                t["type"],
                                "x".join(str(d) for d in t["dims"]),
                                t["n_elements"],
                            )
                        )
                else:
                    for i, t in enumerate(parse_safetensors(p)):
                        rows.append(
                            (
                                mid,
                                "safetensors",
                                i,
                                t["name"],
                                t["dtype"],
                                "x".join(str(d) for d in t["shape"]),
                                t["n_elements"],
                            )
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return df.select(id_col, payload_col).mapInPandas(
        _walk, schema=schema
    )
