"""Output checks: the stream sink against the corpus expectations, and
query results against an order-insensitive checksum."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa
import pyarrow.dataset as ds

from perfbench.corpus import Expected


def read_sink(out_dir: str) -> pa.Table:
    """All routed records the sink holds (data files only)."""
    return ds.dataset(out_dir, format="parquet").to_table(
        columns=["topic", "key", "value", "block_height"]
    )


def check_sink(table: pa.Table, exp: Expected, blocks=None) -> list[int]:
    """Heights of blocks whose routed records are missing or wrong.

    A block is right when its (topic, key) record counts equal the
    expectation and every sampled serialized value is present byte for
    byte. ``blocks`` limits the check to those heights."""
    got: dict[int, Counter] = defaultdict(Counter)
    values: dict[tuple, Counter] = defaultdict(Counter)
    cols = table.to_pydict()
    for t, k, v, h in zip(cols["topic"], cols["key"], cols["value"],
                          cols["block_height"]):
        got[h][(t, k)] += 1
        values[(t, k, h)][v] += 1
    if blocks is None:
        heights = set(exp.per_block) | set(got)  # records for unknown blocks
    else:
        heights = set(blocks)
    bad = {h for h in heights if got.get(h, Counter()) != exp.per_block.get(h)}
    for t, k, h, v in exp.samples:
        if h in heights and values[(t, k, h)][v] == 0:
            bad.add(h)
    return sorted(bad)


def _canon(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.15g}"
    if isinstance(v, Decimal):
        return f"{float(v):.15g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def checksum(table: pa.Table) -> tuple[int, str]:
    """(row count, order-insensitive checksum). Columns are taken by name
    and floats at 15 significant digits, so the same rows from Spark and
    DuckDB hash alike."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("\x1f".join(_canon(v) for v in row) for row in zip(*cols))
    h = hashlib.sha256("\n".join(names).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return table.num_rows, h.hexdigest()
