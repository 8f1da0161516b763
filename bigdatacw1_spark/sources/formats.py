"""Multi-format readers: CSV / JSON-lines / ORC with the catalog's
declared schemas (SURVEY.md §2.1 — the reference has no file connectors;
these extend the engine to the formats a real ingest tier receives).

Design rules for 100 TB ingest:
- Schemas are ALWAYS passed explicitly (catalog.TABLES) — schema
  inference reads the data twice and can silently widen types between
  drops; with a declared schema the read is single-pass and stable.
- Malformed rows are captured, not fatal: PERMISSIVE mode plus a
  ``_corrupt_record`` rescue column for CSV/JSON, so one bad row in a
  terabyte drop quarantines instead of failing the job.
- Timestamps round-trip at microsecond precision via an explicit
  timestampFormat AND timestampNTZFormat (CSV writes would otherwise
  truncate). Both are set because the catalog declares TIMESTAMP_NTZ for
  the zone-less event/order/shipment times (catalog.TABLES) — a reader
  that sets only timestampFormat silently quarantines every NTZ row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatacw1_spark.operators.multimodal import PAYLOAD_SCHEMA, map_rows
from bigdatacw1_spark.sources.catalog import TABLES

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _schema_with_rescue(name: str) -> T.StructType:
    base = TABLES[name]
    return T.StructType(list(base.fields) + [T.StructField("_corrupt_record", T.StringType())])


def read_csv(spark: SparkSession, path: str, table: str) -> DataFrame:
    """CSV with declared schema, header, and quarantine column."""
    return (
        spark.read.schema(_schema_with_rescue(table))
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_FMT)
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, table: str) -> DataFrame:
    """JSON-lines with declared schema and quarantine column."""
    return (
        spark.read.schema(_schema_with_rescue(table))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_FMT)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str, table: str) -> DataFrame:
    """ORC with declared schema (columnar; schema mismatch fails fast)."""
    return spark.read.schema(TABLES[table]).orc(path)


def read_xml(spark: SparkSession, path: str, table: str, row_tag: str = "row") -> DataFrame:
    """XML with declared schema (Spark 4 built-in xml source; one row per
    ``row_tag`` element). XML is the interchange format B2B feeds still
    arrive in; the same declared-schema discipline applies — element text
    is parsed to the catalog types, and like CSV/JSON the timestamp
    formats are pinned for µs round-trips. (Avro is NOT wired: its data
    source module is external to the Spark distribution here; parquet/
    ORC cover the columnar interchange need.)"""
    return (
        spark.read.schema(TABLES[table])
        .option("rowTag", row_tag)
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_FMT)
        .xml(path)
    )


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a rescued read into (clean, quarantined) frames. The clean
    side drops the rescue column so downstream schemas match parquet.

    The parsed frame is cached first: Spark refuses queries that touch
    ONLY ``_corrupt_record`` on a raw file scan (the parser would have
    nothing else to parse), and both halves re-read the input otherwise.
    The cache is deliberately left alive — both returned frames depend on
    it; callers that are done with BOTH halves should release it with
    ``good.sparkSession.catalog.clearCache()`` or by unpersisting the
    shared parent (``release_quarantine``).
    """
    df = df.cache()
    bad = df.where(df["_corrupt_record"].isNotNull())
    good = df.where(df["_corrupt_record"].isNull()).drop("_corrupt_record")
    good._quarantine_parent = df  # handle for release_quarantine
    bad._quarantine_parent = df
    return good, bad


def release_quarantine(half: DataFrame) -> None:
    """Unpersist the cached parent behind a frame returned by
    ``quarantine_split``. Call once both halves are consumed; a no-op on
    frames that did not come from quarantine_split."""
    parent = getattr(half, "_quarantine_parent", None)
    if parent is not None:
        parent.unpersist()


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-asset ingestion via Spark's built-in ``binaryFile`` source:
    one row per file with (path, modificationTime, length, content) —
    the entry point for image/audio/video corpora before the
    decode/feature UDFs in operators/multimodal.py take over.

    Scale notes: the source parallelizes over FILES (each file is one
    row, never split), so millions of small assets fan out fine but a
    directory of few giant files does not — shard such inputs upstream.
    ``glob`` (e.g. ``*.png``) prunes at listing time via
    pathGlobFilter, and ``max_bytes`` guards executor memory by
    filtering on the LENGTH metadata column BEFORE content is
    materialized into rows downstream.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    return df


WARC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("rec_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("content_len", T.LongType()),
        T.StructField("content_md5", T.StringType()),
    ]
)

WARC_BODY_SCHEMA = T.StructType(
    WARC_SCHEMA.fields + [T.StructField("body", T.BinaryType())]
)


def gunzip_bounded(payload: bytes, max_bytes: int = 1 << 32) -> bytes:
    """Inflate a (possibly multi-member, per the .warc.gz layout) gzip
    stream with a hard output cap — gzip can expand ~1000x, so an
    unbounded gzip.decompress on untrusted crawl data is a
    decompression bomb (the decode_png max_length discipline). Refuses
    with the typed ValueError past ``max_bytes`` or on a corrupt
    stream. The 4 GiB default covers a real Common Crawl segment
    (~1 GB compressed, ~4 GB inflated); callers with tighter executor
    budgets pass their own cap. Trailing NUL padding after the last
    member is tolerated, matching gzip.decompress (block-aligned gzip
    writers pad archives with zeros)."""
    import zlib

    out = bytearray()
    rest = payload
    while rest:
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        try:
            out += d.decompress(rest, max_bytes + 1 - len(out))
        except zlib.error as e:
            raise ValueError(f"corrupt gzip stream: {e}") from None
        if len(out) > max_bytes:
            raise ValueError("gzip stream exceeds max_bytes cap")
        if not d.eof:  # stopped mid-member without hitting the cap
            raise ValueError("truncated gzip member")
        rest = d.unused_data  # next concatenated member, if any
        if rest and not rest.strip(b"\x00"):
            break  # all-zero tail = writer padding, not a member
    return bytes(out)


def parse_warc(payload: bytes) -> list[tuple[str, str | None, bytes]]:
    """LENGTH-DRIVEN WARC record parser (ISO 28500, the Common Crawl
    container), stdlib-only: each record is 'WARC/1.0\\r\\n' + headers +
    blank line + exactly Content-Length body bytes + '\\r\\n\\r\\n'.
    Bodies are consumed by their declared length — never by splitting on
    record markers, which corrupts any body that itself contains the
    marker (the classic naive-WARC-reader bug). Malformed version lines,
    missing Content-Length, or truncated bodies raise ValueError loudly.

    Returns [(warc_type, target_uri_or_None, body_bytes), ...].
    """
    b = bytes(payload)
    out: list[tuple[str, str | None, bytes]] = []
    i = 0
    while i < len(b):
        if b[i : i + 2] == b"\r\n":  # inter-record padding
            i += 2
            continue
        eol = b.find(b"\r\n", i)
        if eol < 0 or not b[i:eol].startswith(b"WARC/"):
            raise ValueError(f"expected WARC version line at offset {i}")
        i = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = b.find(b"\r\n", i)
            if eol < 0:
                raise ValueError("truncated WARC header block")
            line = b[i:eol]
            i = eol + 2
            if not line:
                break
            k, _, v = line.partition(b":")
            headers[k.decode("ascii").strip().lower()] = v.decode("utf-8").strip()
        if "content-length" not in headers:
            raise ValueError("WARC record without Content-Length")
        n = int(headers["content-length"])
        if n < 0:  # a negative length would REWIND the cursor (infinite loop)
            raise ValueError("negative WARC Content-Length")
        if i + n > len(b):
            raise ValueError("truncated WARC body")
        body = b[i : i + n]
        i += n
        out.append((headers.get("warc-type", ""), headers.get("warc-target-uri"), body))
    return out


def build_warc(records: list[tuple[str, str | None, bytes]]) -> bytes:
    """Assemble a spec-shaped WARC file from (type, uri, body) triples —
    the fixture-side inverse of parse_warc."""
    chunks = []
    for rec_type, uri, body in records:
        hdrs = [b"WARC/1.0", b"WARC-Type: " + rec_type.encode()]
        if uri is not None:
            hdrs.append(b"WARC-Target-URI: " + uri.encode())
        hdrs.append(b"Content-Length: " + str(len(body)).encode())
        chunks.append(b"\r\n".join(hdrs) + b"\r\n\r\n" + body + b"\r\n\r\n")
    return b"".join(chunks)


def explode_warc(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    gzipped: bool = False,
    with_body: bool = False,
) -> DataFrame:
    """Arrow-batched WARC explosion: one input file row → one output row
    per record, with the body digested (md5) rather than carried — the
    ingestion shape for crawl archives where downstream stages only need
    the response bodies they select by type/uri. One parser call per
    payload inside map_rows; at corpus scale, WARC files are the unit
    of parallelism (binaryFile source), records the unit of work.

    ``gzipped=True`` handles the .warc.gz layout Common Crawl actually
    ships: a CONCATENATION of per-record gzip members (so a reader can
    seek to a record offset and inflate just that member). Python's gzip
    module decompresses straight through member boundaries, recovering
    the full record stream. ``with_body=True`` carries the record body
    as a binary column for downstream extraction stages (select the
    record types you need FIRST — bodies are the heavy column)."""
    import hashlib

    def explode(doc_id: int, payload: bytes):
        raw = gunzip_bounded(payload) if gzipped else payload
        for idx, (rtype, uri, body) in enumerate(parse_warc(raw)):
            row = (doc_id, idx, rtype, uri, len(body), hashlib.md5(body).hexdigest())
            yield row + (body,) if with_body else row

    schema = WARC_BODY_SCHEMA if with_body else WARC_SCHEMA
    return map_rows(media.select(id_col, payload_col), explode, schema)


def synth_warc_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gzipped: bool = False,
) -> DataFrame:
    """Deterministic WARC fixtures: per id, a file holding a warcinfo
    record (constant body), a response record whose body is the
    document's utf-8 text at uri http://example.com/{id}, and a metadata
    record 'doc_id: {id}' — every record's length and md5 is predictable
    from the documents table alone, so a SQL oracle verifies the parse.
    ``gzipped=True`` emits the Common Crawl .warc.gz layout: each record
    compressed as its own gzip member, members concatenated."""
    import gzip

    def one_record(rec) -> bytes:
        blob = build_warc([rec])
        return gzip.compress(blob, mtime=0) if gzipped else blob

    def make(i: int, text: str):
        recs = [
            ("warcinfo", None, b"software: bigdatacw1-spark\r\n"),
            ("response", f"http://example.com/{i}", text.encode("utf-8")),
            ("metadata", f"http://example.com/{i}", f"doc_id: {i}".encode()),
        ]
        yield i, b"".join(one_record(r) for r in recs)

    return map_rows(df.select(id_col, text_col), make, PAYLOAD_SCHEMA)


ZIP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("member_name", T.StringType()),
        T.StructField("member_len", T.LongType()),
        T.StructField("member_md5", T.StringType()),
    ]
)


def explode_zip(media: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """ZIP archive explosion (stdlib zipfile — central-directory walk +
    DEFLATE): one output row per member with the content digested.
    Together with explode_warc this covers the two containers crawl
    dumps actually arrive in. Corrupt archives raise loudly
    (zipfile.BadZipFile) rather than yielding partial listings."""
    import hashlib
    import io
    import zipfile

    def explode(doc_id: int, payload: bytes):
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            for name in zf.namelist():
                body = zf.read(name)
                yield doc_id, name, len(body), hashlib.md5(body).hexdigest()

    return map_rows(media.select(id_col, payload_col), explode, ZIP_SCHEMA)


def synth_zip_corpus(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic ZIP fixtures: per id, an archive with the document
    text DEFLATE-compressed under doc.txt plus a stored meta.json —
    member lengths and md5s predictable from the documents table, so
    the oracle verifies the central-directory walk AND the inflate."""
    import io
    import zipfile

    def make(i: int, text: str):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr(
                zipfile.ZipInfo("doc.txt"), text.encode("utf-8"),
                compress_type=zipfile.ZIP_DEFLATED,
            )
            zf.writestr(zipfile.ZipInfo("meta.json"), f'{{"doc_id": {i}}}'.encode())
        yield i, buf.getvalue()

    return map_rows(df.select(id_col, text_col), make, PAYLOAD_SCHEMA)


def http_response_parts(resp: "F.Column | str"):
    """Split a raw HTTP response (as carried in a WARC response record:
    status line + headers + CRLFCRLF + body) into a struct of
    (status INT, content_type STRING, body STRING) — pure JVM regex, no
    Python: the middle layer between the WARC record and HTML
    extraction. Header lookup is case-insensitive and parameters after
    ';' (charset=...) are dropped; a payload without a header block
    yields status NULL and the whole payload as body (robustness over
    strictness at corpus scale — filter on status afterwards)."""
    c = F.col(resp) if isinstance(resp, str) else resp
    status = F.regexp_extract(c, r"\AHTTP/[0-9.]+ ([0-9]{3})", 1).try_cast("int")
    ctype = F.regexp_extract(c, r"(?im)^content-type:[ \t]*([^\r\n;]+)", 1)
    body = F.when(
        c.rlike(r"\AHTTP/"), F.regexp_replace(c, r"(?s)\AHTTP/.*?\r\n\r\n", "")
    ).otherwise(c)
    return F.struct(
        status.alias("status"),
        F.nullif(F.trim(ctype), F.lit("")).alias("content_type"),
        body.alias("body"),
    )


# ---------------------------------------------------------------------------
# Avro object-container codec (stdlib only). The wire format every Kafka →
# data-lake ingestion path speaks: magic 'Obj\x01', a metadata map carrying
# the writer schema JSON, a 16-byte sync marker, then blocks of
# (record_count, byte_size, records..., sync). Longs are zigzag varints,
# doubles little-endian IEEE bits, strings length-prefixed UTF-8.
# ---------------------------------------------------------------------------

AVRO_SYNC = bytes(range(16))  # fixed so containers are byte-deterministic

_AVRO_LINEITEM_SCHEMA = (
    '{"type":"record","name":"li","fields":['
    '{"name":"okey","type":"long"},{"name":"line","type":"long"},'
    '{"name":"qty_cents","type":"long"},{"name":"disc_cents","type":"long"},'
    '{"name":"flag","type":"string"}]}'
)


def _avro_write_long(n: int) -> bytes:
    """Zigzag + varint, the Avro long encoding."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_read_long(b: bytes, pos: int) -> tuple[int, int]:
    shift = z = 0
    while True:
        if pos >= len(b):  # typed refusal, not IndexError (loud-refusal contract)
            raise ValueError("truncated Avro varint")
        byte = b[pos]
        pos += 1
        z |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
        if shift > 63:  # a zigzag long is at most 10 bytes on the wire
            raise ValueError("Avro varint exceeds 64 bits")
    return (z >> 1) ^ -(z & 1), pos


def encode_avro_container(
    records: list[tuple[int, int, int, int, str]], block_size: int = 10
) -> bytes:
    """Spec-valid Avro object container file around lineitem-shaped
    records (4 longs + a string), multiple blocks so a decoder must
    actually walk block framing and verify per-block sync markers."""
    meta = {
        "avro.schema": _AVRO_LINEITEM_SCHEMA.encode(),
        "avro.codec": b"null",
    }
    out = bytearray(b"Obj\x01")
    out += _avro_write_long(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out += _avro_write_long(len(kb)) + kb
        out += _avro_write_long(len(v)) + v
    out += _avro_write_long(0)  # end of metadata map
    out += AVRO_SYNC
    for start in range(0, len(records), block_size):
        block = records[start : start + block_size]
        body = bytearray()
        for okey, line, qty_c, disc_c, flag in block:
            body += _avro_write_long(okey) + _avro_write_long(line)
            body += _avro_write_long(qty_c) + _avro_write_long(disc_c)
            fb = flag.encode()
            body += _avro_write_long(len(fb)) + fb
        out += _avro_write_long(len(block)) + _avro_write_long(len(body))
        out += body + AVRO_SYNC
    return bytes(out)


def decode_avro_container(payload: bytes) -> list[tuple[int, int, int, int, str]]:
    """REAL Avro container decode with no avro library: magic check,
    metadata-map walk (schema must match the writer schema — a decoder
    that ignores the schema is not a decoder), per-block record/byte
    counts, zigzag varint longs, length-prefixed strings, and a sync-
    marker check after EVERY block (catches framing bugs immediately).
    Deflate-coded containers refuse loudly."""
    b = bytes(payload)
    if b[:4] != b"Obj\x01":
        raise ValueError("not an Avro object container")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _avro_read_long(b, pos)
        if n == 0:
            break
        if n < 0:  # negative count prefixes a byte size per the map spec
            _, pos = _avro_read_long(b, pos)
            n = -n
        for _ in range(n):
            klen, pos = _avro_read_long(b, pos)
            if klen < 0:  # a negative length would REWIND pos (infinite loop)
                raise ValueError("negative Avro string length")
            key = b[pos : pos + klen].decode()
            pos += klen
            vlen, pos = _avro_read_long(b, pos)
            if vlen < 0:
                raise ValueError("negative Avro bytes length")
            meta[key] = b[pos : pos + vlen]
            pos += vlen
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b""):
        raise NotImplementedError(f"avro codec {codec!r} not supported stdlib-side")
    if meta.get("avro.schema") != _AVRO_LINEITEM_SCHEMA.encode():
        raise ValueError("unexpected writer schema")
    sync = b[pos : pos + 16]
    pos += 16
    records: list[tuple[int, int, int, int, str]] = []
    while pos < len(b):
        n_rec, pos = _avro_read_long(b, pos)
        n_bytes, pos = _avro_read_long(b, pos)
        end = pos + n_bytes
        for _ in range(n_rec):
            okey, pos = _avro_read_long(b, pos)
            line, pos = _avro_read_long(b, pos)
            qty_c, pos = _avro_read_long(b, pos)
            disc_c, pos = _avro_read_long(b, pos)
            flen, pos = _avro_read_long(b, pos)
            if flen < 0:  # a negative length would REWIND pos (infinite loop)
                raise ValueError("negative Avro string length")
            flag = b[pos : pos + flen].decode()
            pos += flen
            records.append((okey, line, qty_c, disc_c, flag))
        if pos != end:
            raise ValueError("block byte count does not match decoded records")
        if b[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch after block")
        pos += 16
    return records


# ---------------------------------------------------------------------------
# Protobuf wire format (no protobuf library): varint / zigzag / length-
# delimited encoding per the public encoding spec
# (protobuf.dev/programming-guides/encoding). Message type:
#   message Line { int64 okey=1; int64 line=2; int64 qty_c=3;
#                  sint64 disc_c=4; string flag=5; }
# Stream framing: each message is prefixed with its varint byte length
# (the standard delimited-stream convention, writeDelimitedTo).
# ---------------------------------------------------------------------------


def _pb_varint(n: int) -> bytes:
    """Unsigned LEB128 varint (7 bits per byte, MSB = continuation)."""
    if n < 0:
        raise ValueError("varint encodes unsigned values; zigzag first")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_read_varint(b: bytes, pos: int) -> tuple[int, int]:
    """Decode one varint; verifies continuation bits terminate in-bounds."""
    shift = 0
    val = 0
    while True:
        if pos >= len(b):
            raise ValueError("truncated varint")
        byte = b[pos]
        pos += 1
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return val, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 64 bits")


def _pb_zigzag(n: int) -> int:
    """sint64 zigzag: maps −1→1, 1→2, −2→3 … so small negatives stay short."""
    return ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF


def _pb_unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def encode_protobuf_stream(records: list[tuple[int, int, int, int, str]]) -> bytes:
    """Serialize (okey, line, qty_c, disc_c, flag) records as a
    length-delimited stream of protobuf messages: fields 1–3 int64
    varints, field 4 sint64 ZIGZAG varint (disc_c is negative for
    below-par discounts — plain varint would burn 10 bytes on every
    one), field 5 a length-delimited UTF-8 string."""
    out = bytearray()
    for okey, line, qty_c, disc_c, flag in records:
        msg = bytearray()
        msg += _pb_varint((1 << 3) | 0) + _pb_varint(okey)
        msg += _pb_varint((2 << 3) | 0) + _pb_varint(line)
        msg += _pb_varint((3 << 3) | 0) + _pb_varint(qty_c)
        msg += _pb_varint((4 << 3) | 0) + _pb_varint(_pb_zigzag(disc_c))
        fb = flag.encode("utf-8")
        msg += _pb_varint((5 << 3) | 2) + _pb_varint(len(fb)) + fb
        out += _pb_varint(len(msg)) + msg
    return bytes(out)


def decode_protobuf_stream(payload: bytes) -> list[tuple[int, int, int, int, str]]:
    """Walk a length-delimited protobuf stream back to records,
    verifying every tag's field number and wire type, message framing,
    and string bounds — a wrong continuation bit, zigzag sign, or
    length prefix fails loudly, which is what the round-trip oracle
    leans on."""
    b = bytes(payload)
    pos = 0
    out: list[tuple[int, int, int, int, str]] = []
    while pos < len(b):
        mlen, pos = _pb_read_varint(b, pos)
        end = pos + mlen
        if end > len(b):
            raise ValueError("message overruns stream")
        vals: dict[int, int | str] = {}
        while pos < end:
            tag, pos = _pb_read_varint(b, pos)
            field, wtype = tag >> 3, tag & 0x07
            if field in (1, 2, 3, 4):
                if wtype != 0:
                    raise ValueError(f"field {field}: expected varint wire type")
                v, pos = _pb_read_varint(b, pos)
                vals[field] = _pb_unzigzag(v) if field == 4 else v
            elif field == 5:
                if wtype != 2:
                    raise ValueError("field 5: expected length-delimited")
                slen, pos = _pb_read_varint(b, pos)
                if pos + slen > end:
                    raise ValueError("string overruns message")
                vals[field] = b[pos : pos + slen].decode("utf-8")
                pos += slen
            else:
                raise ValueError(f"unknown field {field}")
        if pos != end or set(vals) != {1, 2, 3, 4, 5}:
            raise ValueError("malformed message")
        out.append((vals[1], vals[2], vals[3], vals[4], vals[5]))
    return out


# ---------------------------------------------------------------------------
# Parquet RLE / bit-packing hybrid (the workhorse integer encoding behind
# Parquet repetition/definition levels and dictionary indices — public
# spec: parquet.apache.org/docs/file-format/data-pages/encodings/,
# "RLE/Bit-Packing Hybrid"). Stream = <bit-width:1 byte> <num-values:LEB128
# varint> then a sequence of groups, each a varint header H:
#   H & 1 == 0  ->  RLE run: run length H>>1, then the value in
#                   ceil(bit_width/8) little-endian bytes;
#   H & 1 == 1  ->  bit-packed: H>>1 groups of 8 values, LSB-first,
#                   bit_width bits each (so bit_width bytes per group).
# Encoder policy (parquet-mr's RunLengthBitPackingHybridEncoder
# semantics): maximal equal-value runs of >= 8 become RLE, but only from
# an 8-ALIGNED literal position — if a bit-packed group is open
# mid-eight, the run's head tops it up to alignment first (so bit-packed
# groups mid-stream carry only real values, never padding); shorter runs
# accumulate in the literal buffer. Only the FINAL flush zero-pads its
# last group to a multiple of 8, which is the invariant the decoder's
# padding checks enforce.
# ---------------------------------------------------------------------------


def encode_rle_bitpack(values: list[int], bit_width: int) -> bytes:
    """Encode unsigned ints with the Parquet RLE/bit-packing hybrid."""
    if not 1 <= bit_width <= 32:
        raise ValueError("bit width must be in 1..32")
    limit = 1 << bit_width
    for v in values:
        if not 0 <= v < limit:
            raise ValueError(f"value {v} does not fit {bit_width} bits")
    out = bytearray((bit_width,))
    out += _pb_varint(len(values))
    vb = (bit_width + 7) // 8
    buf: list[int] = []

    def flush() -> None:
        if not buf:
            return
        groups = (len(buf) + 7) // 8
        padded = buf + [0] * (groups * 8 - len(buf))
        out.extend(_pb_varint(groups << 1 | 1))
        acc = 0
        nbits = 0
        for v in padded:
            acc |= v << nbits
            nbits += bit_width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        # 8 values per group * bit_width bits is always byte-aligned
        assert nbits == 0 and acc == 0
        buf.clear()

    i, n = 0, len(values)
    while i < n:
        j = i
        while j < n and values[j] == values[i]:
            j += 1
        run = j - i
        if run >= 8 and len(buf) % 8:
            # top the open bit-packed group up to 8-alignment first
            take = -len(buf) % 8
            buf.extend([values[i]] * take)
            run -= take
        if run >= 8:
            flush()  # buffer is 8-aligned (or empty): packs w/o padding
            out.extend(_pb_varint(run << 1))
            out += values[i].to_bytes(vb, "little")
        elif run:
            buf.extend([values[i]] * run)
        i = j
    flush()
    return bytes(out)


def decode_rle_bitpack(
    payload: bytes, max_values: int = 1 << 24
) -> tuple[list[int], int, int]:
    """Decode an RLE/bit-packing hybrid stream back to its values,
    verifying the bit width, declared count, group framing, value
    bounds, and zero padding — returns (values, n_rle_runs,
    n_bitpacked_slots) so callers can assert the WIRE layout, not just
    the round-trip (the oracle predicts both from the run structure).

    The decoder materializes a Python list, so the declared count n is
    itself untrusted input: a ~10-byte stream may legally declare one
    RLE run of 2^40 values, and the per-run overrun bound below (which
    compares against n) would admit it. ``max_values`` caps n before
    any run length derived from it is honored — a stream beyond the cap
    refuses with the typed error instead of exhausting memory."""
    b = bytes(payload)
    if not b:
        raise ValueError("empty stream")
    bit_width = b[0]
    if not 1 <= bit_width <= 32:
        raise ValueError("bad bit width")
    n, pos = _pb_read_varint(b, 1)
    if n > max_values:
        raise ValueError("declared count exceeds max_values cap")
    vb = (bit_width + 7) // 8
    limit = 1 << bit_width
    vals: list[int] = []
    rle_runs = 0
    bp_slots = 0
    while pos < len(b):
        header, pos = _pb_read_varint(b, pos)
        if header & 1:
            groups = header >> 1
            if groups <= 0:
                raise ValueError("empty bit-packed group")
            nbytes = groups * bit_width
            if pos + nbytes > len(b):
                raise ValueError("truncated bit-packed group")
            acc = int.from_bytes(b[pos : pos + nbytes], "little")
            for _ in range(groups * 8):
                vals.append(acc & (limit - 1))
                acc >>= bit_width
            pos += nbytes
            bp_slots += groups * 8
        else:
            run = header >> 1
            if run <= 0:
                raise ValueError("empty RLE run")
            # bound BEFORE allocating: a legal stream never decodes past
            # n + 7 (only the final bit-packed group pads, by < 8), so a
            # huge declared run must refuse with the typed error, not
            # OOM building a list (loud-refusal contract).
            if len(vals) + run > n + 7:
                raise ValueError("RLE run overruns declared count")
            if pos + vb > len(b):
                raise ValueError("truncated RLE value")
            v = int.from_bytes(b[pos : pos + vb], "little")
            if v >= limit:
                raise ValueError("RLE value exceeds bit width")
            vals.extend([v] * run)
            pos += vb
            rle_runs += 1
    if len(vals) < n:
        raise ValueError("stream shorter than declared count")
    if len(vals) - n >= 8:
        raise ValueError("more than one bit-pack group of padding")
    if any(vals[n:]):
        raise ValueError("nonzero padding")
    return vals[:n], rle_runs, bp_slots
