"""Minimal NetCDF classic (CDF-1) writer for the benchmark's seeded inputs.

Writes one NC_DOUBLE variable over two fixed dimensions (rows, elements),
the layout the engine's `file_import` reads as (id_dim, measure array).
"""
import struct

import numpy as np

_TAG_DIM, _TAG_VAR, _NC_DOUBLE = 0x0A, 0x0B, 6


def _name(s):
    b = s.encode()
    return struct.pack(">i", len(b)) + b + b"\0" * ((4 - len(b) % 4) % 4)


def write_cdf1(path, var, data, dims=("id_dim", "elem")):
    """Write `data` (2-D float64) as variable `var` of a CDF-1 file."""
    data = np.ascontiguousarray(data, dtype=">f8")
    rows, cols = data.shape
    head = b"CDF\x01" + struct.pack(">i", 0)
    head += struct.pack(">ii", _TAG_DIM, 2)
    head += _name(dims[0]) + struct.pack(">i", rows)
    head += _name(dims[1]) + struct.pack(">i", cols)
    head += struct.pack(">ii", 0, 0)  # no global attributes
    head += struct.pack(">ii", _TAG_VAR, 1) + _name(var)
    head += struct.pack(">iii", 2, 0, 1)  # two dims: ids 0 and 1
    head += struct.pack(">ii", 0, 0)  # no variable attributes
    head += struct.pack(">ii", _NC_DOUBLE, rows * cols * 8)
    begin = len(head) + 4
    with open(path, "wb") as f:
        f.write(head + struct.pack(">i", begin))
        f.write(data.tobytes())
