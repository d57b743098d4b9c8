"""Fluent Forward protocol (msgpack) → log-record translation.

Re-expresses ``receiver/fluentforwardreceiver`` over DataFrames with a
binary column holding one Forward-protocol event per row:

- mode dispatch on the second array element's type
  (server.go:143-205): int/uint/EventTime → Message mode, array →
  Forward mode, bin/str → PackedForward mode;
- Message ``[tag, time, record, options?]`` (conversion.go:195-225),
  Forward ``[tag, [[time, record]...], options?]`` (:255-296),
  PackedForward ``[tag, <msgpack stream>, options?]`` with
  ``compressed: gzip`` handled after options are read (:316-405);
- record → log record (:135-182): ``message``/``log`` key becomes the
  body, every other key an attribute, plus ``fluent.tag``; binary
  keys/values are decoded as strings; timestamps are integer seconds
  or the EventTime ext (type 0: 4-byte sec + 4-byte nsec,
  timeext.go);
- msgp type mapping (:95-121): bool/str/int/uint/bytes→str/map/
  array/float, unknown → fmt string, nil → empty;
- options: ``chunk`` (ack handle) and ``compressed`` (:33-42);
- a malformed event yields one ``ff_ok=false`` row (the reference
  drops the connection — relationally, the event).

Spark shape: msgpack is a binary wire format with no JVM builtin, so
decoding runs in ``mapInPandas`` — Arrow-batched Python, one pass,
no shuffle; throughput scales with input partitions. Body/attrs are
rendered as sorted-key compact JSON (pcommon map order) so results
stay relational and oracle-comparable.
"""
from __future__ import annotations

import gzip
import io
import json
import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame


class EventTime:
    """fluentd EventTime ext value (type 0): seconds + nanoseconds."""

    __slots__ = ("sec", "nsec")

    def __init__(self, sec: int, nsec: int) -> None:
        self.sec, self.nsec = sec, nsec


class MsgpackError(ValueError):
    pass


def _need(buf: bytes, i: int, n: int) -> None:
    if i + n > len(buf):
        raise MsgpackError("truncated msgpack input")


def msgpack_decode(buf: bytes, i: int = 0) -> tuple[Any, int]:
    """Decode one msgpack value at offset ``i``; return (value, end).

    Covers the Forward-protocol subset (msgp Type-Mapping-Rules):
    nil/bool/int/uint/float/str/bin/array/map/ext(EventTime).
    """
    _need(buf, i, 1)
    b = buf[i]
    i += 1
    if b <= 0x7F:  # positive fixint
        return b, i
    if b >= 0xE0:  # negative fixint
        return b - 0x100, i
    if 0xA0 <= b <= 0xBF:  # fixstr
        n = b & 0x1F
        _need(buf, i, n)
        return buf[i:i + n].decode("utf-8", "replace"), i + n
    if 0x90 <= b <= 0x9F:  # fixarray
        return _dec_array(buf, i, b & 0x0F)
    if 0x80 <= b <= 0x8F:  # fixmap
        return _dec_map(buf, i, b & 0x0F)
    if b == 0xC0:
        return None, i
    if b == 0xC2:
        return False, i
    if b == 0xC3:
        return True, i
    if b in (0xC4, 0xC5, 0xC6):  # bin8/16/32
        w = 1 << (b - 0xC4)
        _need(buf, i, w)
        n = int.from_bytes(buf[i:i + w], "big")
        i += w
        _need(buf, i, n)
        return bytes(buf[i:i + n]), i + n
    if b == 0xCA:
        _need(buf, i, 4)
        return struct.unpack_from(">f", buf, i)[0], i + 4
    if b == 0xCB:
        _need(buf, i, 8)
        return struct.unpack_from(">d", buf, i)[0], i + 8
    if b in (0xCC, 0xCD, 0xCE, 0xCF):  # uint8/16/32/64
        w = 1 << (b - 0xCC)
        _need(buf, i, w)
        return int.from_bytes(buf[i:i + w], "big"), i + w
    if b in (0xD0, 0xD1, 0xD2, 0xD3):  # int8/16/32/64
        w = 1 << (b - 0xD0)
        _need(buf, i, w)
        return int.from_bytes(buf[i:i + w], "big", signed=True), i + w
    if b == 0xD9:  # str8
        _need(buf, i, 1)
        n = buf[i]
        i += 1
        _need(buf, i, n)
        return buf[i:i + n].decode("utf-8", "replace"), i + n
    if b in (0xDA, 0xDB):  # str16/32
        w = 2 if b == 0xDA else 4
        _need(buf, i, w)
        n = int.from_bytes(buf[i:i + w], "big")
        i += w
        _need(buf, i, n)
        return buf[i:i + n].decode("utf-8", "replace"), i + n
    if b in (0xDC, 0xDD):  # array16/32
        w = 2 if b == 0xDC else 4
        _need(buf, i, w)
        n = int.from_bytes(buf[i:i + w], "big")
        return _dec_array(buf, i + w, n)
    if b in (0xDE, 0xDF):  # map16/32
        w = 2 if b == 0xDE else 4
        _need(buf, i, w)
        n = int.from_bytes(buf[i:i + w], "big")
        return _dec_map(buf, i + w, n)
    if b == 0xD7:  # fixext8 — the EventTime layout (timeext.go)
        _need(buf, i, 9)
        typ = buf[i]
        if typ != 0:
            raise MsgpackError(f"unsupported ext type {typ}")
        sec, nsec = struct.unpack_from(">II", buf, i + 1)
        return EventTime(sec, nsec), i + 9
    if b == 0xC7:  # ext8
        _need(buf, i, 2)
        n, typ = buf[i], buf[i + 1]
        i += 2
        if typ != 0 or n != 8:
            raise MsgpackError(f"unsupported ext8 type {typ} len {n}")
        _need(buf, i, 8)
        sec, nsec = struct.unpack_from(">II", buf, i)
        return EventTime(sec, nsec), i + 8
    raise MsgpackError(f"unsupported msgpack byte 0x{b:02x}")


def _dec_array(buf: bytes, i: int, n: int) -> tuple[list, int]:
    out = []
    for _ in range(n):
        v, i = msgpack_decode(buf, i)
        out.append(v)
    return out, i


def _dec_map(buf: bytes, i: int, n: int) -> tuple[dict, int]:
    out = {}
    for _ in range(n):
        k, i = msgpack_decode(buf, i)
        if isinstance(k, bytes):  # binary map keys (conversion.go:155-162)
            k = k.decode("utf-8", "replace")
        v, i = msgpack_decode(buf, i)
        out[k] = v
    return out, i


def msgpack_encode(v: Any) -> bytes:
    """Encode the fixture/test subset (inverse of msgpack_decode)."""
    if v is None:
        return b"\xc0"
    if v is True:
        return b"\xc3"
    if v is False:
        return b"\xc2"
    if isinstance(v, EventTime):
        return b"\xd7\x00" + struct.pack(">II", v.sec, v.nsec)
    if isinstance(v, int):
        if 0 <= v <= 0x7F:
            return bytes([v])
        if -32 <= v < 0:
            return bytes([v & 0xFF])
        if 0 <= v <= 0xFFFFFFFF:
            return b"\xce" + v.to_bytes(4, "big")
        return b"\xd3" + v.to_bytes(8, "big", signed=True)
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        raw = v.encode()
        if len(raw) <= 31:
            return bytes([0xA0 | len(raw)]) + raw
        if len(raw) <= 0xFF:
            return b"\xd9" + bytes([len(raw)]) + raw
        return b"\xda" + len(raw).to_bytes(2, "big") + raw
    if isinstance(v, bytes):
        return b"\xc4" + bytes([len(v)]) + v
    if isinstance(v, list):
        head = (bytes([0x90 | len(v)]) if len(v) <= 15
                else b"\xdc" + len(v).to_bytes(2, "big"))
        return head + b"".join(msgpack_encode(x) for x in v)
    if isinstance(v, dict):
        head = (bytes([0x80 | len(v)]) if len(v) <= 15
                else b"\xde" + len(v).to_bytes(2, "big"))
        return head + b"".join(
            msgpack_encode(k) + msgpack_encode(x) for k, x in v.items())
    raise MsgpackError(f"cannot encode {type(v)}")


def _jsonable(v: Any) -> Any:
    """msgp value → JSON-renderable (parseToAttributeValue :95-121)."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, dict):
        return {(k.decode("utf-8", "replace") if isinstance(k, bytes)
                 else k): _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, (bool, int, float, str)) or v is None:
        return v
    return str(v)  # fmt.Sprintf fallback


def _dump(v: Any) -> str:
    return json.dumps(v, sort_keys=True, separators=(",", ":"),
                      ensure_ascii=False)


def _ts_ns(t: Any) -> int:
    if isinstance(t, EventTime):
        return t.sec * 1_000_000_000 + t.nsec
    if isinstance(t, bool) or not isinstance(t, int):
        raise MsgpackError(f"unknown type of time value: {t!r}")
    return t * 1_000_000_000


_OUT_SCHEMA = (
    "ff_ok boolean, ff_mode string, ff_tag string, ff_idx int,"
    "ff_ts_ns bigint, ff_body string, ff_attrs string, ff_chunk string"
)


def _records(msg: bytes):
    """Decode one Forward event → (mode, tag, [(ts, record)], options)."""
    top, _ = msgpack_decode(msg)
    if not isinstance(top, list) or not (2 <= len(top) <= 4):
        raise MsgpackError("event is not a 2..4 array")
    tag = top[0]
    if isinstance(tag, bytes):
        tag = tag.decode("utf-8", "replace")
    if not isinstance(tag, str):
        raise MsgpackError("malformed tag field")
    second = top[1]
    if isinstance(second, (int, EventTime)) and not isinstance(second, bool):
        if len(top) < 3:
            raise MsgpackError("message event missing record")
        opts = top[3] if len(top) == 4 else {}
        return "message", tag, [(second, top[2])], opts
    if isinstance(second, list):
        if len(top) > 3:
            raise MsgpackError("forward event with >3 elements")
        opts = top[2] if len(top) == 3 else {}
        out = []
        for ent in second:
            if not isinstance(ent, list) or len(ent) != 2:
                raise MsgpackError("forward entry is not a 2-array")
            out.append((ent[0], ent[1]))
        return "forward", tag, out, opts
    if isinstance(second, (bytes, str)):
        if len(top) > 3:
            raise MsgpackError("packedforward event with >3 elements")
        opts = top[2] if len(top) == 3 else {}
        raw = second.encode() if isinstance(second, str) else second
        if isinstance(opts, dict) and opts.get("compressed") == "gzip":
            raw = gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
        out, i = [], 0
        while i < len(raw):
            ent, i = msgpack_decode(raw, i)
            if not isinstance(ent, list) or len(ent) != 2:
                raise MsgpackError("packed entry is not a 2-array")
            out.append((ent[0], ent[1]))
        return "packedforward", tag, out, opts
    raise MsgpackError("unable to determine event mode")


def fluent_forward_to_logs(df: DataFrame) -> DataFrame:
    """Forward-protocol events (binary column) → log rows."""
    passthrough = [c for c in df.columns if c != "msg"]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != "msg"
    )
    out_schema = (schema + ", " if schema else "") + _OUT_SCHEMA

    def run(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                base = {c: getattr(t, c) for c in passthrough}
                raw = t.msg
                try:
                    mode, tag, ents, opts = _records(bytes(raw))
                    chunk = opts.get("chunk") if isinstance(
                        opts, dict) else None
                    if not isinstance(chunk, str):
                        chunk = None
                    for idx, (tv, rec) in enumerate(ents):
                        if not isinstance(rec, dict):
                            raise MsgpackError("record is not a map")
                        body, attrs = None, {"fluent.tag": tag}
                        for k, v in rec.items():
                            # fluentd uses message, fluentbit log
                            if k in ("message", "log"):
                                body = _dump(_jsonable(v))
                            else:
                                attrs[k] = _jsonable(v)
                        rows.append({
                            **base, "ff_ok": True, "ff_mode": mode,
                            "ff_tag": tag, "ff_idx": idx,
                            "ff_ts_ns": _ts_ns(tv), "ff_body": body,
                            "ff_attrs": _dump(attrs), "ff_chunk": chunk,
                        })
                except (MsgpackError, ValueError, OSError) as ex:
                    rows.append({
                        **base, "ff_ok": False, "ff_mode": None,
                        "ff_tag": None, "ff_idx": None, "ff_ts_ns": None,
                        "ff_body": None, "ff_attrs": str(ex)[:200],
                        "ff_chunk": None,
                    })
            yield pd.DataFrame(
                rows, columns=passthrough + [
                    "ff_ok", "ff_mode", "ff_tag", "ff_idx", "ff_ts_ns",
                    "ff_body", "ff_attrs", "ff_chunk"])

    return df.mapInPandas(run, out_schema)
