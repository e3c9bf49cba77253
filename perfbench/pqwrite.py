"""A minimal parquet writer in plain Python, for the benchmark's inputs.

Writes one row group with one uncompressed PLAIN data page per column, all
columns OPTIONAL (nullable, as a Spark or pyarrow writer declares them) and
no nulls. Column kinds: "int64", "double", "string" (UTF-8) and
"timestamp_us" (INT64 microseconds, not adjusted to UTC, which Spark reads
as TIMESTAMP_NTZ). The file metadata is Thrift compact protocol, written by
hand from parquet-format's parquet.thrift.
"""
import struct

# parquet.thrift enums
_INT64, _DOUBLE, _BYTE_ARRAY = 2, 5, 6
_OPTIONAL = 1
_UTF8 = 0
_PLAIN, _RLE = 0, 3
_DATA_PAGE = 0
_UNCOMPRESSED = 0
# Thrift compact protocol type ids
_T_TRUE, _T_FALSE, _T_I32, _T_I64, _T_BINARY, _T_LIST, _T_STRUCT = 1, 2, 5, 6, 8, 9, 12

_KINDS = {"int64": _INT64, "double": _DOUBLE, "string": _BYTE_ARRAY, "timestamp_us": _INT64}


def _varint(n):
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n):
    return _varint((n << 1) ^ (n >> 63))


class _Struct:
    """Thrift compact encoding of one struct, fields added in id order."""

    def __init__(self):
        self.buf = bytearray()
        self.last = 0

    def _head(self, fid, ttype):
        delta = fid - self.last
        assert 0 < delta <= 15
        self.buf.append((delta << 4) | ttype)
        self.last = fid

    def i32(self, fid, v):
        self._head(fid, _T_I32)
        self.buf += _zigzag(v)
        return self

    def i64(self, fid, v):
        self._head(fid, _T_I64)
        self.buf += _zigzag(v)
        return self

    def string(self, fid, s):
        b = s.encode()
        self._head(fid, _T_BINARY)
        self.buf += _varint(len(b)) + b
        return self

    def boolean(self, fid, v):
        self._head(fid, _T_TRUE if v else _T_FALSE)
        return self

    def struct(self, fid, s):
        self._head(fid, _T_STRUCT)
        self.buf += s.bytes()
        return self

    def lst(self, fid, ttype, items):
        self._head(fid, _T_LIST)
        n = len(items)
        self.buf += bytes([(n << 4) | ttype]) if n < 15 else bytes([0xF0 | ttype]) + _varint(n)
        for it in items:
            if ttype == _T_STRUCT:
                self.buf += it.bytes()
            elif ttype == _T_BINARY:
                b = it.encode()
                self.buf += _varint(len(b)) + b
            else:
                self.buf += _zigzag(it)
        return self

    def bytes(self):
        return bytes(self.buf) + b"\x00"


def _values(kind, values):
    if kind == "double":
        return struct.pack(f"<{len(values)}d", *values)
    if kind == "string":
        out = bytearray()
        for v in values:
            b = v.encode()
            out += struct.pack("<i", len(b)) + b
        return bytes(out)
    return struct.pack(f"<{len(values)}q", *values)


def _def_levels(n):
    # every value present: one RLE run of n ones, bit width 1, length-prefixed
    run = _varint(n << 1) + b"\x01"
    return struct.pack("<i", len(run)) + run


def _schema_element(name, kind):
    e = _Struct().i32(1, _KINDS[kind]).i32(3, _OPTIONAL).string(4, name)
    if kind == "string":
        e.i32(6, _UTF8).struct(10, _Struct().struct(1, _Struct()))        # LogicalType.STRING
    elif kind == "timestamp_us":
        unit = _Struct().struct(2, _Struct())                             # TimeUnit.MICROS
        ts = _Struct().boolean(1, False).struct(2, unit)
        e.struct(10, _Struct().struct(8, ts))                             # LogicalType.TIMESTAMP
    return e


def write(path, columns):
    """Writes `columns`, a list of (name, kind, values) of equal length."""
    rows = len(columns[0][2]) if columns else 0
    assert all(len(c[2]) == rows for c in columns)
    out = bytearray(b"PAR1")
    chunks = []
    for name, kind, values in columns:
        page = _def_levels(rows) + _values(kind, values)
        header = _Struct().i32(1, _DATA_PAGE).i32(2, len(page)).i32(3, len(page)).struct(
            5, _Struct().i32(1, rows).i32(2, _PLAIN).i32(3, _RLE).i32(4, _RLE)).bytes()
        offset = len(out)
        out += header + page
        size = len(header) + len(page)
        meta = (_Struct().i32(1, _KINDS[kind]).lst(2, _T_I32, [_PLAIN, _RLE])
                .lst(3, _T_BINARY, [name]).i32(4, _UNCOMPRESSED).i64(5, rows)
                .i64(6, size).i64(7, size).i64(9, offset))
        chunks.append((_Struct().i64(2, offset).struct(3, meta), size))
    root = _Struct().string(4, "schema").i32(5, len(columns))
    schema = [root] + [_schema_element(name, kind) for name, kind, _ in columns]
    group = (_Struct().lst(1, _T_STRUCT, [c for c, _ in chunks])
             .i64(2, sum(s for _, s in chunks)).i64(3, rows))
    footer = (_Struct().i32(1, 1).lst(2, _T_STRUCT, schema).i64(3, rows)
              .lst(4, _T_STRUCT, [group] if rows else [])
              .string(6, "graft-perfbench version 1.0.0 (build 0)").bytes())
    out += footer + struct.pack("<i", len(footer)) + b"PAR1"
    with open(path, "wb") as f:
        f.write(out)
