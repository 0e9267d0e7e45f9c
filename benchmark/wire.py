"""Client-side wire formats: Riemann protobuf ``Msg`` frames and a minimal
RFC 6455 WebSocket subscriber.  Hand-rolled so the benchmark needs no
client library."""

import base64
import os
import socket
import struct


# ---------------------------------------------------------------- protobuf

def _varint(v):
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _key(field, wire_type):
    return _varint((field << 3) | wire_type)


def _str(field, s):
    b = s.encode("utf-8")
    return _key(field, 2) + _varint(len(b)) + b


def _nested(field, b):
    return _key(field, 2) + _varint(len(b)) + b


def encode_event(e):
    """One Riemann ``Event``: time as seconds (1) and micros (10), host (4),
    service (3), state (2), ttl float (8), attributes (9), metric_d (14)."""
    out = bytearray()
    out += _key(1, 0) + _varint(e["time"] // 1_000_000_000)
    if e.get("state") is not None:
        out += _str(2, e["state"])
    if e.get("service") is not None:
        out += _str(3, e["service"])
    if e.get("host") is not None:
        out += _str(4, e["host"])
    for t in e.get("tags", []):
        out += _str(7, t)
    if e.get("ttl") is not None:
        out += _key(8, 5) + struct.pack("<f", e["ttl"])
    for k in sorted(e.get("attributes", {})):
        out += _nested(9, _str(1, k) + _str(2, e["attributes"][k]))
    out += _key(10, 0) + _varint(e["time"] // 1000)
    if e.get("metric") is not None:
        out += _key(14, 1) + struct.pack("<d", e["metric"])
    return bytes(out)


def encode_msg(events):
    return b"".join(_nested(6, encode_event(e)) for e in events)


def frame(payload):
    return struct.pack(">I", len(payload)) + payload


def read_frames(data):
    """Split concatenated length-prefixed frames back into frames (with
    their 4-byte headers, ready to send)."""
    out, p = [], 0
    while p < len(data):
        (n,) = struct.unpack_from(">I", data, p)
        out.append(data[p:p + 4 + n])
        p += 4 + n
    return out


def _read_varint(b, p):
    shift, v = 0, 0
    while True:
        c = b[p]
        p += 1
        v |= (c & 0x7F) << shift
        if not c & 0x80:
            return v, p
        shift += 7


def decode_ack(payload):
    """(ok, error) of an ack ``Msg``."""
    p, ok, err = 0, None, None
    while p < len(payload):
        key, p = _read_varint(payload, p)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, p = _read_varint(payload, p)
            if field == 2:
                ok = v != 0
        elif wt == 2:
            ln, p = _read_varint(payload, p)
            if field == 3:
                err = payload[p:p + ln].decode("utf-8", "replace")
            p += ln
        elif wt == 1:
            p += 8
        elif wt == 5:
            p += 4
        else:
            raise ValueError(f"wire type {wt}")
    return ok, err


def recv_exact(sock, n):
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("connection closed")
        buf += chunk
    return bytes(buf)


def recv_ack(sock):
    (n,) = struct.unpack(">I", recv_exact(sock, 4))
    return decode_ack(recv_exact(sock, n))


# ---------------------------------------------------------------- websocket

class WsSubscriber:
    """Upgrade ``GET /channel/<name>`` and yield text-frame payloads."""

    def __init__(self, port, channel, timeout=30.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall((f"GET /channel/{channel} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
                           "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                           f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n").encode())
        head = b""
        while b"\r\n\r\n" not in head:
            c = self.sock.recv(1)
            if not c:
                raise ConnectionError("websocket upgrade: connection closed")
            head += c
        if b" 101 " not in head.split(b"\r\n")[0]:
            raise ConnectionError(f"websocket upgrade refused: {head[:60]!r}")

    def next_text(self):
        """Next text payload, or None when the server closed the stream."""
        while True:
            b0, b1 = recv_exact(self.sock, 2)
            op, n = b0 & 0x0F, b1 & 0x7F
            if n == 126:
                (n,) = struct.unpack(">H", recv_exact(self.sock, 2))
            elif n == 127:
                (n,) = struct.unpack(">Q", recv_exact(self.sock, 8))
            data = recv_exact(self.sock, n) if n else b""
            if op == 0x1:
                return data.decode("utf-8")
            if op == 0x8:
                return None

    def close(self):
        try:
            # masked close frame, as a client must send
            self.sock.sendall(bytes([0x88, 0x80]) + os.urandom(4))
        except OSError:
            pass
        self.sock.close()
