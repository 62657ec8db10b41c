"""Output checks: every operation the benchmark times is checked here."""
import numpy as np


class CheckError(Exception):
    """An output that differs from what the inputs determine."""


def check_page(page, ids, want):
    """An RS page of (id_dim, measure) rows must hold exactly `ids`, in
    order, each with the measure `want[j]` bit for bit. The framing itself
    was checked when the page was split into cells (wire.split_cells)."""
    nrows, nfields, cells = page
    if nfields != 2 or nrows != len(ids) or len(cells) != 2 * nrows:
        raise CheckError(f"page has {nrows} rows x {nfields} fields, "
                         f"expected {len(ids)} x 2")
    want = np.ascontiguousarray(want, dtype="<f8")
    for j, i in enumerate(ids):
        if cells[2 * j] != b"%d\0" % i:
            raise CheckError(f"row {j}: id {cells[2 * j]!r}, expected {i}")
        if cells[2 * j + 1] != want[j].tobytes():
            got = np.frombuffer(cells[2 * j + 1], dtype="<f8")
            raise CheckError(f"row {j} (id {i}): measure {got[:4]}..., "
                             f"expected {want[j][:4]}...")


def check_digest(result, expected):
    """A corpus query's digest must equal the one recorded from a run whose
    outputs matched the DuckDB oracles (perfbench/record_digests.py)."""
    name = result["query"]
    if "error" in result:
        raise CheckError(f"{name} failed: {result['error']}")
    if expected is None:
        raise CheckError(f"{name}: no recorded digest")
    if (result["rows"], result["hash"]) != (expected["rows"], expected["hash"]):
        raise CheckError(f"{name}: digest {result['rows']} rows/{result['hash']}, "
                         f"recorded {expected['rows']} rows/{expected['hash']}")
