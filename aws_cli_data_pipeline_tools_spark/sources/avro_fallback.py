"""Pure-Python Avro Object Container File read/write (no spark-avro jar).

The offline container lacks the ``spark-avro`` datasource jar (README
"Known environment limitation"), but the Avro 1.x container format is
pure-spec implementable with the stdlib: ``Obj\\x01`` magic, a metadata
map carrying the writer schema JSON and codec, 16-byte sync markers, and
blocks of zigzag-varint binary-encoded records, optionally raw-DEFLATE
compressed (stdlib ``zlib``). This module is the fallback path that
keeps Avro interop REAL in this environment:

- :func:`write_avro` — distributed: each partition serializes its rows
  to one container file from the executor (``mapInPandas`` side-effect
  write, same layout contract as a parquet part-file directory).
- :func:`read_avro` — distributed: ``binaryFile`` ingestion of the
  ``part-*.avro`` files, then Arrow-batched per-file decode on the
  executors; only the schema peek reads one file driver-side.

Type coverage (the common interop subset, documented): null, boolean,
int, long, float, double, string, bytes, nullable unions of those, and
``long.timestamp-micros`` (Spark TimestampType). Nested records/arrays/
maps and other codecs are out of scope for the fallback — the jar path
(``sources.reader("avro")``) remains the full-fidelity route when
available (skipif-gated ``test_roundtrip_avro``).

When the reference reads Avro it does so through Athena's SerDe
(SURVEY.md §2.B scans row); here the engine itself carries the format.
"""

from __future__ import annotations

import io
import json
import struct
import zlib

_MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # fixed deterministic sync marker


# ------------------------------------------------------------ binary codec

def _write_long(out: bytearray, v: int) -> None:
    v = (v << 1) ^ (v >> 63)  # zigzag
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _spark_to_avro_schema(schema) -> list[tuple[str, str, bool]]:
    """Spark StructType → [(name, avro primitive, nullable)]; raises on
    types outside the documented fallback subset."""
    from pyspark.sql import types as T

    prim = {
        T.BooleanType: "boolean", T.IntegerType: "int", T.LongType: "long",
        T.FloatType: "float", T.DoubleType: "double", T.StringType: "string",
        T.BinaryType: "bytes", T.TimestampType: "timestamp-micros",
        T.ShortType: "int", T.ByteType: "int", T.DateType: "date",
    }
    out = []
    for f in schema.fields:
        t = prim.get(type(f.dataType))
        if t is None:
            raise ValueError(
                f"avro fallback does not cover {f.dataType.simpleString()} "
                f"(field {f.name}); use the spark-avro jar path"
            )
        out.append((f.name, t, f.nullable))
    return out


def _avro_schema_json(fields: list[tuple[str, str, bool]], name: str) -> str:
    fs = []
    for fname, t, nullable in fields:
        if t == "timestamp-micros":
            ft: object = {"type": "long", "logicalType": "timestamp-micros"}
        elif t == "date":
            ft = {"type": "int", "logicalType": "date"}
        else:
            ft = t
        fs.append({"name": fname, "type": ["null", ft] if nullable else ft})
    return json.dumps(
        {"type": "record", "name": name, "fields": fs}, sort_keys=True
    )


def _encode_value(out: bytearray, t: str, v) -> None:
    if t in ("long", "int"):
        _write_long(out, int(v))
    elif t == "timestamp-micros":
        import pandas as pd

        _write_long(out, int(pd.Timestamp(v).value // 1000))
    elif t == "date":
        import datetime

        _write_long(out, (v - datetime.date(1970, 1, 1)).days)
    elif t == "double":
        out += struct.pack("<d", float(v))
    elif t == "float":
        out += struct.pack("<f", float(v))
    elif t == "boolean":
        out.append(1 if v else 0)
    elif t == "string":
        enc = str(v).encode("utf-8")
        _write_long(out, len(enc))
        out += enc
    elif t == "bytes":
        enc = bytes(v)
        _write_long(out, len(enc))
        out += enc
    else:  # pragma: no cover
        raise ValueError(t)


def _decode_value(buf: io.BytesIO, t: str):
    if t in ("long", "int"):
        return _read_long(buf)
    if t == "timestamp-micros":
        import pandas as pd

        return pd.Timestamp(_read_long(buf) * 1000)
    if t == "date":
        import datetime

        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=_read_long(buf)
        )
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "boolean":
        return buf.read(1)[0] == 1
    if t == "string":
        n = _read_long(buf)
        return buf.read(n).decode("utf-8")
    if t == "bytes":
        n = _read_long(buf)
        return bytearray(buf.read(n))
    raise ValueError(t)  # pragma: no cover


# --------------------------------------------------------------- container

def _header_bytes(fields: list[tuple[str, str, bool]], codec: str) -> bytes:
    schema_json = _avro_schema_json(fields, "sparkgraft_record")
    out = bytearray(_MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        _encode_value(out, "string", k)
        _encode_value(out, "bytes", v)
    _write_long(out, 0)  # end of metadata map
    out += _SYNC
    return bytes(out)


def _block_bytes(
    fields: list[tuple[str, str, bool]], rows, codec: str
) -> bytes:
    block = bytearray()
    n = 0
    for row in rows:
        for (fname, t, nullable), v in zip(fields, row):
            if nullable:
                if v is None:
                    _write_long(block, 0)  # union branch: null
                    continue
                _write_long(block, 1)  # union branch: value
            _encode_value(block, t, v)
        n += 1
    if not n:
        return b""
    payload = (
        zlib.compress(bytes(block), 6)[2:-4]  # raw deflate per spec
        if codec == "deflate"
        else bytes(block)
    )
    out = bytearray()
    _write_long(out, n)
    _write_long(out, len(payload))
    out += payload
    out += _SYNC
    return bytes(out)


def _container_bytes(
    fields: list[tuple[str, str, bool]], rows, codec: str = "deflate"
) -> bytes:
    return _header_bytes(fields, codec) + _block_bytes(fields, rows, codec)


def _parse_container(b: bytes):
    """→ (fields, rows) or raises ValueError on malformed input."""
    if b[:4] != _MAGIC:
        raise ValueError("not an avro container")
    buf = io.BytesIO(b[4:])
    meta = {}
    while True:
        cnt = _read_long(buf)
        if cnt == 0:
            break
        if cnt < 0:  # size-prefixed block form
            _read_long(buf)
            cnt = -cnt
        for _ in range(cnt):
            k = _decode_value(buf, "string")
            meta[k] = bytes(_decode_value(buf, "bytes"))
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec}")
    if schema.get("type") != "record":
        raise ValueError("fallback reads record containers only")
    fields = []
    for f in schema["fields"]:
        ft = f["type"]
        nullable = False
        if isinstance(ft, list):
            branches = [x for x in ft if x != "null"]
            if len(branches) != 1 or len(ft) != 2:
                raise ValueError("only [null, T] unions supported")
            nullable = True
            ft = branches[0]
        if isinstance(ft, dict):
            lt = ft.get("logicalType")
            if lt == "timestamp-micros" and ft.get("type") == "long":
                ft = "timestamp-micros"
            elif lt == "date" and ft.get("type") == "int":
                ft = "date"
            else:
                ft = ft.get("type")
        if ft not in ("null", "boolean", "int", "long", "float", "double",
                      "string", "bytes", "timestamp-micros", "date"):
            raise ValueError(f"unsupported avro type {ft}")
        fields.append((f["name"], ft, nullable))

    rows = []
    while True:
        try:
            n = _read_long(buf)
        except EOFError:
            break
        size = _read_long(buf)
        data = buf.read(size)
        if len(data) != size:
            raise ValueError("truncated block")
        if codec == "deflate":
            data = zlib.decompress(data, -15)
        rbuf = io.BytesIO(data)
        for _ in range(n):
            row = []
            for fname, t, nullable in fields:
                if nullable and _read_long(rbuf) == 0:
                    row.append(None)
                    continue
                row.append(_decode_value(rbuf, t))
            rows.append(tuple(row))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return fields, rows


# ------------------------------------------------------------- spark layer

def write_avro(df, path: str, codec: str = "deflate") -> int:
    """Distributed Avro container write: each partition streams its rows
    executor-side into ``<path>/part-*.avro``, one container BLOCK per
    Arrow batch — no partition-sized materialization. Returns the number
    of files written.

    Two value-fidelity rules (r8 review):

    - Timestamps: Spark hands TimestampType to pandas as tz-NAIVE
      session-local wall clock, but Avro ``timestamp-micros`` is UTC by
      spec — so the writer localizes to the session timezone and converts
      before taking micros. Any Avro reader (this module's, the jar's,
      fastavro) then agrees on the instant regardless of session tz.
    - NaN vs null: Arrow→pandas conflates SQL NULL with IEEE NaN for
      float columns, so the null mask for nullable float/double fields is
      computed JVM-side (``isnull``) and carried alongside; NaN is a legal
      Avro double and is encoded as-is, never silently turned into the
      null union branch (which also crashed non-nullable float fields).
    """
    import glob as globmod
    import os

    import pandas as pd

    fields = _spark_to_avro_schema(df.schema)
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    os.makedirs(path, exist_ok=True)
    # overwrite semantics: clear prior part files so a re-write with
    # fewer partitions can't leave stale parts that read_avro would
    # merge in (pairs with the deterministic per-partition names below)
    for old in globmod.glob(os.path.join(path, "part-*.avro")):
        os.remove(old)

    mask_of = {}  # float/double field -> its JVM-computed null-mask column
    aug = df
    from pyspark.sql import functions as F

    int_as_str = set()  # nullable int/long fields, carried as strings
    for n, t, nullable in fields:
        q = f"`{n}`"  # literal name — dots must not parse as struct paths
        if t in ("float", "double") and nullable:
            mask_of[n] = f"__isnull_{n}"
            aug = aug.withColumn(mask_of[n], F.isnull(F.col(q)))
        elif t in ("int", "long") and nullable:
            # the Arrow->pandas boundary coerces int64-with-nulls to
            # float64, silently corrupting values above 2^53 (snowflake
            # ids); a JVM-side string cast is exact at any magnitude and
            # keeps None as None in the object-dtype pandas column
            # (r10 review)
            int_as_str.add(n)
            aug = aug.withColumn(n, F.col(q).cast("string"))

    # mapInPandas itself resolves every input column via df[name]
    # (pyspark map_ops.py), which parses dots as struct paths no matter
    # how the caller quotes — so the frame is relabeled to positional
    # names before the hand-off and the writer indexes pandas by those
    # (the avro header keeps the REAL names; r10 review)
    safe = {n: f"__f{i}" for i, (n, _t, _nul) in enumerate(fields)}
    mask_safe = {
        m: f"__m{i}" for i, m in enumerate(mask_of.values())
    }
    aug = aug.select(
        *[F.col(f"`{n}`").alias(safe[n]) for n, _t, _nul in fields],
        *[F.col(f"`{m}`").alias(mask_safe[m]) for m in mask_of.values()],
    )

    def writer(it):
        from pyspark import TaskContext

        # deterministic per-partition name + 'wb' truncate: a retried
        # task REWRITES its own file instead of orphaning a partial
        # part-<uuid> beside the retry's copy, which read_avro would
        # then double-read or choke on (r10 review; same discipline as
        # export.write_jsonl_shards)
        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}.avro")
        f = None
        n_rows = 0
        for pdf in it:
            cols = []
            for n, t, nullable in fields:
                s = pdf[safe[n]]
                if n in int_as_str:
                    cols.append(
                        [None if v is None else int(v) for v in s]
                    )
                elif t == "timestamp-micros":
                    s = (
                        pd.to_datetime(s)
                        .dt.tz_localize(
                            session_tz, ambiguous=True,
                            nonexistent="shift_forward",
                        )
                        .dt.tz_convert("UTC")
                        .dt.tz_localize(None)
                    )
                    cols.append([None if pd.isna(v) else v for v in s])
                elif t in ("float", "double"):
                    if n in mask_of:
                        cols.append([
                            None if isnull else v
                            for v, isnull in zip(
                                s, pdf[mask_safe[mask_of[n]]]
                            )
                        ])
                    else:
                        cols.append(list(s))  # NaN is a value, not null
                else:
                    cols.append([None if pd.isna(v) else v for v in s])
            blk = _block_bytes(fields, zip(*cols), codec)
            if not blk:
                continue
            if f is None:
                f = open(fname, "wb")
                f.write(_header_bytes(fields, codec))
            f.write(blk)
            n_rows += len(pdf)
        if f is not None:
            f.close()
            yield pd.DataFrame({"file": [fname], "n": [n_rows]})

    done = aug.mapInPandas(writer, schema="file string, n long").collect()
    if not done:
        # empty input: write one header-only container so the advertised
        # write->read round-trip yields an empty frame WITH the schema
        # instead of FileNotFoundError (r10 review)
        with open(os.path.join(path, "part-00000.avro"), "wb") as f:
            f.write(_header_bytes(fields, codec))
    return len(done)


#: Avro->Spark DDL type map for the supported subset (the one source
#: of read_avro's DDL).
_AVRO_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "long",
    "float": "float", "double": "double", "string": "string",
    "bytes": "binary", "timestamp-micros": "timestamp", "date": "date",
}


def peek_schema(path: str):
    """Driver-side schema peek at the first container under ``path``:
    returns (fields, backtick-quoted DDL string) for ``read_avro``."""
    import glob as globmod

    files = sorted(globmod.glob(f"{path}/part-*.avro"))
    if not files:
        raise FileNotFoundError(f"no part-*.avro under {path}")
    with open(files[0], "rb") as f:
        fields, _ = _parse_container(f.read())
    ddl = ", ".join(f"`{n}` {_AVRO_TO_SPARK[t]}" for n, t, _ in fields)
    return fields, ddl


def read_avro(spark, path: str):
    """Distributed Avro container read: one driver-side schema peek at
    the first file, then ``binaryFile`` ingestion + Arrow-batched decode
    of each container on the executors. Files are the parallelism unit
    (like parquet row-group splits, a container's blocks could split
    further; the fallback keeps whole-file granularity)."""
    import pandas as pd
    from pyspark.sql import functions as F

    fields, schema = peek_schema(path)
    names = [f[0] for f in fields]
    # object-dtype decode for integral columns: pd.Series([1, None])
    # silently becomes float64 (precision loss > 2^53); object dtype
    # keeps exact python ints through the Arrow cast (r10 review)
    exact_cols = {n for n, t, _ in fields if t in ("int", "long", "boolean")}

    bin_df = (
        spark.read.format("binaryFile")
        .load(f"{path}/part-*.avro")
        .select("content")
    )
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    ts_cols = [n for n, t, _ in fields if t == "timestamp-micros"]
    # Nullable float/double need a null MASK through the Arrow boundary:
    # pandas float64 coerces None to NaN and Arrow's from_pandas treats
    # NaN as null, so SQL NULL and IEEE NaN would merge in either
    # direction — the mask rides along and the split is restored
    # JVM-side below (the write side has the mirror-image guard).
    masked = {
        n: f"__isnull_{n}"
        for n, t, nullable in fields
        if t in ("float", "double") and nullable
    }
    # non-nullable float fields carry no SQL NULLs at all, so every
    # post-Arrow null in them IS a NaN the boundary swallowed
    plain_float = [
        n for n, t, nullable in fields
        if t in ("float", "double") and not nullable
    ]
    expect = sorted((n, t) for n, t, _ in fields)
    internal_schema = schema + "".join(
        f", `{m}` boolean" for m in masked.values()
    )

    def decode(it):
        for pdf in it:
            for blob in pdf["content"]:
                f_fields, rows = _parse_container(bytes(blob))
                if not rows:
                    continue
                # each file decodes with ITS OWN header's field order —
                # labeling by the first file's names would silently put
                # values under the wrong columns when another writer
                # ordered fields differently (r8 review)
                f_names = [x[0] for x in f_fields]
                if sorted((n, t) for n, t, _ in f_fields) != expect:
                    raise ValueError(
                        f"avro file schema mismatch: expected {expect}, "
                        f"found {sorted((n, t) for n, t, _ in f_fields)}"
                    )
                cols = dict(zip(f_names, zip(*rows)))
                out = pd.DataFrame({
                    n: pd.Series(
                        cols[n],
                        dtype=object if n in exact_cols else None,
                    )
                    for n in names
                })
                for n, m in masked.items():
                    out[m] = pd.Series(
                        [v is None for v in cols[n]], dtype=bool
                    )
                for c in ts_cols:
                    # container micros are UTC (Avro spec); Spark reads
                    # naive pandas timestamps as session-local wall clock
                    out[c] = (
                        pd.to_datetime(out[c])
                        .dt.tz_localize("UTC")
                        .dt.tz_convert(session_tz)
                        .dt.tz_localize(None)
                    )
                yield out

    res = bin_df.mapInPandas(decode, schema=internal_schema)
    for n, m in masked.items():
        # after the Arrow boundary the column is null wherever it was
        # SQL NULL *or* NaN (from_pandas nulls NaN); the mask says which
        # was which — unmasked nulls were NaN values. All names go
        # through backticks: a legal dotted column name must not parse
        # as a struct path (r10 review)
        res = res.withColumn(
            n,
            F.when(F.col(f"`{m}`"), F.lit(None)).otherwise(
                F.coalesce(
                    F.col(f"`{n}`"), F.lit(float("nan")).cast("double")
                )
            ).cast(dict(res.dtypes)[n]),
        ).drop(m)
    for n in plain_float:
        res = res.withColumn(
            n,
            F.coalesce(
                F.col(f"`{n}`"), F.lit(float("nan")).cast("double")
            ).cast(dict(res.dtypes)[n]),
        )
    return res.select(*[f"`{n}`" for n in names])
