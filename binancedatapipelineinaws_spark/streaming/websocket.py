"""RFC 6455 WebSocket ingest for the reference's actual front door.

The reference's EP1 consumes the Binance BTCUSDT trade WebSocket
(`main.py:30-35`, `BinanceSocketManager.trade_socket`) and writes one
TSV file per event-time minute, shipped on rotation (`main.py:36-47`).
This module is that daemon re-expressed for the engine: a
dependency-free RFC 6455 CLIENT (stdlib socket/ssl only — handshake,
masked client frames, server frame parse with fragmentation,
ping/pong, close) that decodes Binance-shaped trade JSON and spools it
as the engine's TSV wire format, one file per event-time minute,
atomically renamed to `*.tsv` on rotation so Spark's file-stream
source (`read_tick_stream`) picks up exactly the closed minutes.

Division of labor (Spark-first): the socket client is a plain
foreground process — Spark has no WebSocket source, and hiding a
network client inside a custom data source would forfeit the file
source's exactly-once commit log.  The spool directory IS the
reference's `data_1_min/` S3 prefix; `read_tick_stream`'s
`cleanSource=archive` replaces the Lambda's copy-then-delete
(`lambda_function.py:38-48`).

TLS note: `wss://` is this same client over an `ssl`-wrapped socket —
`connect()` takes a ready socket precisely so the TLS layer stays
orthogonal (`ssl.create_default_context().wrap_socket(sock,
server_hostname=host)`); the container has no outbound network, so
only the TLS-less path is exercised in tests (the framing layer is
identical either way).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import secrets
import socket
import struct
from dataclasses import dataclass
from typing import Callable, Iterator, Optional

# RFC 6455 §1.3: fixed GUID concatenated to the client key; the
# server must echo base64(sha1(key + GUID)) in Sec-WebSocket-Accept.
_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

OP_CONT = 0x0
OP_TEXT = 0x1
OP_BINARY = 0x2
OP_CLOSE = 0x8
OP_PING = 0x9
OP_PONG = 0xA


def accept_key_for(client_key: str) -> str:
    """Sec-WebSocket-Accept the server must answer with (RFC 6455
    §4.2.2 step 5.4) — shared with the test server."""
    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


@dataclass
class WSConn:
    """A handshaken WebSocket connection: the socket plus any bytes
    that arrived in the same TCP segment as the 101 response — frames
    the server sent immediately after upgrading, which MUST NOT be
    discarded (losing the first trade of the session is exactly the
    kind of bug a raw-socket port invites)."""

    sock: socket.socket
    buf: bytes = b""

    def close(self) -> None:
        self.sock.close()


def client_handshake(sock: socket.socket, host: str, path: str) -> bytes:
    """Perform the RFC 6455 opening handshake on a connected socket.

    Sends the HTTP/1.1 Upgrade request (§4.1) and validates the 101
    response status and Sec-WebSocket-Accept echo.  Returns any bytes
    read past the end of the HTTP response (the first frames, when
    the server streams immediately).  Raises ConnectionError on any
    protocol violation — a mis-negotiated connection must never
    silently feed the pipeline.
    """
    key = base64.b64encode(secrets.token_bytes(16)).decode()
    request = (
        f"GET {path} HTTP/1.1\r\n"
        f"Host: {host}\r\n"
        "Upgrade: websocket\r\n"
        "Connection: Upgrade\r\n"
        f"Sec-WebSocket-Key: {key}\r\n"
        "Sec-WebSocket-Version: 13\r\n"
        "\r\n"
    )
    sock.sendall(request.encode())
    response = b""
    while b"\r\n\r\n" not in response:
        chunk = sock.recv(4096)
        if not chunk:
            raise ConnectionError("server closed during WS handshake")
        response = response + chunk
        if len(response) > 65536:
            raise ConnectionError("oversized WS handshake response")
    head, _, rest = response.partition(b"\r\n\r\n")
    lines = head.decode("latin-1").split("\r\n")
    status = lines[0].split(" ", 2)
    if len(status) < 2 or status[1] != "101":
        raise ConnectionError(f"WS upgrade refused: {lines[0]!r}")
    headers = {
        k.strip().lower(): v.strip()
        for k, _, v in (ln.partition(":") for ln in lines[1:])
    }
    if headers.get("sec-websocket-accept") != accept_key_for(key):
        raise ConnectionError("Sec-WebSocket-Accept mismatch")
    return rest


def _send_frame(
    sock: socket.socket, opcode: int, payload: bytes, masked: bool = True
) -> None:
    """One frame (§5.2).  Client frames MUST be masked (§5.3)."""
    header = bytearray([0x80 | opcode])  # FIN + opcode
    mask_bit = 0x80 if masked else 0x00
    n = len(payload)
    if n < 126:
        header.append(mask_bit | n)
    elif n < 1 << 16:
        header.append(mask_bit | 126)
        header += struct.pack(">H", n)
    else:
        header.append(mask_bit | 127)
        header += struct.pack(">Q", n)
    if masked:
        mask = secrets.token_bytes(4)
        header += mask
        payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    sock.sendall(bytes(header) + payload)


def _recv_exact(conn: WSConn, n: int) -> bytes:
    # serve from the handshake-leftover buffer first
    while len(conn.buf) < n:
        chunk = conn.sock.recv(65536)
        if not chunk:
            raise ConnectionError("connection closed mid-frame")
        conn.buf += chunk
    out, conn.buf = conn.buf[:n], conn.buf[n:]
    return out


# Upper bound on a single frame AND an assembled fragmented message.
# The server declares the length before the payload arrives; without a
# cap a misbehaving peer can declare 2^63 bytes and OOM the spool
# daemon while _recv_exact buffers it (ADVICE r8).  Binance trade
# messages are ~300 bytes; 16 MiB is orders of magnitude of headroom.
MAX_FRAME_BYTES = 16 * 1024 * 1024


def recv_messages(conn: WSConn) -> Iterator[tuple[int, bytes]]:
    """Yield complete (opcode, payload) MESSAGES from server frames:
    reassembles fragmentation (§5.4), answers ping with pong (§5.5.2-3),
    stops cleanly on close (§5.5.1).  Server frames must be unmasked
    (§5.1); a masked server frame is a protocol error.  Frames over
    MAX_FRAME_BYTES and malformed control frames (fragmented, or
    payload > 125 bytes — §5.5) are protocol errors too."""
    frag_opcode: Optional[int] = None
    frag_payload = b""
    while True:
        try:
            b1, b2 = _recv_exact(conn, 2)
        except ConnectionError:
            return
        fin = bool(b1 & 0x80)
        opcode = b1 & 0x0F
        masked = bool(b2 & 0x80)
        n = b2 & 0x7F
        if n == 126:
            (n,) = struct.unpack(">H", _recv_exact(conn, 2))
        elif n == 127:
            (n,) = struct.unpack(">Q", _recv_exact(conn, 8))
        if masked:
            raise ConnectionError("masked server frame (RFC 6455 §5.1)")
        if opcode in (OP_CLOSE, OP_PING, OP_PONG):
            if not fin:
                raise ConnectionError(
                    "fragmented control frame (RFC 6455 §5.5)"
                )
            if n > 125:
                raise ConnectionError(
                    f"control frame payload {n} > 125 (RFC 6455 §5.5)"
                )
        if n > MAX_FRAME_BYTES or (
            # reassembly cap counts only data/continuation frames — a
            # control frame interleaved mid-fragmentation is its own
            # message, not part of the buffer
            opcode in (OP_CONT, OP_TEXT, OP_BINARY)
            and len(frag_payload) + n > MAX_FRAME_BYTES
        ):
            raise ConnectionError(
                f"frame/message of {n} bytes exceeds MAX_FRAME_BYTES"
            )
        payload = _recv_exact(conn, n) if n else b""
        if opcode == OP_CLOSE:
            return
        if opcode == OP_PING:
            _send_frame(conn.sock, OP_PONG, payload)
            continue
        if opcode == OP_PONG:
            continue
        if opcode == OP_CONT:
            if frag_opcode is None:
                raise ConnectionError("continuation without start frame")
            frag_payload += payload
            if fin:
                yield frag_opcode, frag_payload
                frag_opcode, frag_payload = None, b""
            continue
        if not fin:
            frag_opcode, frag_payload = opcode, payload
            continue
        yield opcode, payload


def connect(
    host: str,
    port: int,
    path: str = "/ws/btcusdt@trade",
    sock: Optional[socket.socket] = None,
    timeout: float = 30.0,
) -> WSConn:
    """Connect + handshake.  Pass a pre-wrapped `sock` (e.g. an
    ssl-wrapped one for wss://) to inject the transport."""
    if sock is None:
        sock = socket.create_connection((host, port), timeout=timeout)
    leftover = client_handshake(sock, host, path)
    return WSConn(sock, leftover)


# --- Binance trade message -> engine TSV wire format -------------------------

# Public Binance <symbol>@trade payload fields the reference consumes
# (main.py:36,56-66): t=trade id, s=symbol, p=price, q=quantity,
# T=trade time (epoch ms), m=buyer-is-maker.
_REQUIRED_FIELDS = ("t", "s", "p", "q", "T", "m")


def trade_json_to_wire(text: str) -> Optional[str]:
    """One Binance trade JSON message -> one engine wire TSV line
    (TICKS_WIRE_SCHEMA order), or None for non-trade / malformed
    messages (combined-stream wrappers are unwrapped first).  The
    price/qty STRINGS pass through untouched — formatting decisions
    (the reference's 2-dp round at main.py:63) belong to the
    canonicalization plan, not the ingest edge."""
    try:
        msg = json.loads(text)
    except ValueError:
        return None
    if isinstance(msg, dict) and "data" in msg and "stream" in msg:
        msg = msg["data"]  # combined-stream envelope
    if not isinstance(msg, dict) or any(
        k not in msg for k in _REQUIRED_FIELDS
    ):
        return None
    if msg.get("e") not in (None, "trade"):
        return None
    return "\t".join(
        (
            str(int(msg["t"])),
            str(msg["s"]),
            str(msg["p"]),
            str(msg["q"]),
            str(int(msg["T"])),
            "true" if msg["m"] else "false",
        )
    )


@dataclass
class SpoolStats:
    messages: int = 0
    trades: int = 0
    files_closed: int = 0


def spool_trades(
    conn: WSConn,
    spool_dir: str,
    max_messages: Optional[int] = None,
    on_rotate: Optional[Callable[[str], None]] = None,
) -> SpoolStats:
    """The reference's rotation loop (main.py:36-47), hardened: read
    trade messages off an open WebSocket, append to
    `<spool_dir>/<minute_epoch_s>.part`, and on the first trade of a
    LATER event-time minute atomically rename the closed file to
    `.tsv` (the file-stream source's pathGlobFilter only admits
    `*.tsv`, so Spark never sees a half-written minute — the atomic
    visibility the reference got from the S3 PUT).  `on_rotate` is the
    upload hook (upload_file_to_s3 in the reference; a no-op here
    because the spool dir IS the source dir).

    Unlike the reference: rotation compares `>` not `!=` so a late
    trade for an already-closed minute goes to the CURRENT file
    (whose canonicalization-side watermark drops it) instead of
    re-opening and silently truncating the closed minute file
    (main.py:38's `w`-mode reopen); and the in-flight file is flushed
    per trade, so a crash loses nothing that was received."""
    os.makedirs(spool_dir, exist_ok=True)
    stats = SpoolStats()
    active_minute: Optional[int] = None
    fh = None

    def close_active() -> None:
        nonlocal fh
        if fh is None:
            return
        fh.close()
        part = os.path.join(spool_dir, f"{active_minute * 60}.part")
        final = os.path.join(spool_dir, f"{active_minute * 60}.tsv")
        os.rename(part, final)
        stats.files_closed += 1
        fh = None
        if on_rotate is not None:
            on_rotate(final)

    try:
        for opcode, payload in recv_messages(conn):
            if opcode != OP_TEXT:
                continue
            stats.messages += 1
            line = trade_json_to_wire(payload.decode("utf-8", "replace"))
            if line is not None:
                minute = int(line.rsplit("\t", 2)[1]) // 60_000
                if active_minute is None:
                    active_minute = minute
                elif minute > active_minute:
                    close_active()
                    active_minute = minute
                if fh is None:
                    fh = open(
                        os.path.join(spool_dir, f"{active_minute * 60}.part"),
                        "a",
                    )
                fh.write(line + "\n")
                fh.flush()
                stats.trades += 1
            if (
                max_messages is not None
                and stats.messages >= max_messages
            ):
                break
    finally:
        close_active()
    return stats
