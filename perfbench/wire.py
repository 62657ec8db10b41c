"""Client for the engine's binary wire (the reference's frame protocol).

All integers are little-endian. Every client counts the bytes it sends
and receives, so the benchmark can report exact wire volumes per loop.
"""
import socket
import struct
import time


class WireError(Exception):
    """A reply that breaks the protocol (bad tag or bad RS framing)."""


def _arg(tag, raw):
    return struct.pack("<Q", len(raw)) + tag + raw


def arg_long(v):
    return _arg(b"DL", struct.pack("<q", v))


def arg_blob(doubles_le):
    """A packed little-endian double blob (bytes of a '<f8' array)."""
    return _arg(b"DB", doubles_le)


def _str(s):
    b = s.encode() + b"\0"
    return struct.pack("<Q", len(b)) + b


class Client:
    def __init__(self, port, host="127.0.0.1", timeout=120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.bytes_out = 0  # client -> server
        self.bytes_in = 0   # server -> client
        self.last_rs_bytes = 0

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass

    def _send(self, data):
        self.sock.sendall(data)
        self.bytes_out += len(data)

    def _recv(self, n):
        buf = bytearray(n)
        view = memoryview(buf)
        got = 0
        while got < n:
            k = self.sock.recv_into(view[got:], n - got)
            if k == 0:
                raise WireError("server closed the connection")
            got += k
        self.bytes_in += n
        return bytes(buf)

    def _tag(self):
        return self._recv(2).decode("ascii", "replace")

    def ping(self):
        """PG round trip; returns seconds."""
        t0 = time.perf_counter()
        self._send(b"PG")
        tag = self._tag()
        if tag != "PG":
            raise WireError(f"PG answered {tag}")
        return time.perf_counter() - t0

    def use(self, db="default", device="memory"):
        self._send(b"UD" + _str(db) + _str(device))
        return self._tag()

    def eq(self, query, args=(), tot_run=1, curr_run=1, device="memory"):
        """Send one EQ frame; returns the reply tag ('EQ' or 'ER')."""
        parts = [b"EQ", struct.pack("<I", len(args) + 1), _str(query),
                 _str(device)]
        if args:
            parts.append(struct.pack("<QQ", tot_run, curr_run))
            parts.extend(args)
        self._send(b"".join(parts))
        return self._tag()

    def rs(self):
        """Fetch the last result set.

        Returns (nrows, nfields, cells) with cells the raw values in row
        order, or None on ER. Raises WireError when the declared payload
        length differs from the bytes of the cells it framed.
        """
        self._send(b"RS")
        tag = self._tag()
        if tag == "ER":
            return None
        if tag != "RS":
            raise WireError(f"RS answered {tag}")
        payload_len, nrows, nfields = struct.unpack("<QQI", self._recv(20))
        body = self._recv(payload_len)
        self.last_rs_bytes = 22 + payload_len
        return nrows, nfields, split_cells(body, nrows * nfields)


def split_cells(body, ncells):
    """Split an RS payload into `ncells` cells; the framing must use every
    byte of the payload and nothing beyond it."""
    cells, off = [], 0
    for _ in range(ncells):
        if off + 8 > len(body):
            raise WireError("RS payload shorter than its cells")
        (n,) = struct.unpack_from("<Q", body, off)
        off += 8
        if off + n > len(body):
            raise WireError("RS cell runs past the payload")
        cells.append(body[off:off + n])
        off += n
    if off != len(body):
        raise WireError(f"RS payload is {len(body)} bytes, cells use {off}")
    return cells
