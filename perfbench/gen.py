"""Input generators, run as their own process so that neither their CPU
time nor their memory lands on the process that drives Spark.

    python3 perfbench/gen.py corpus --seed 1 --out DIR --files 20 --blocks-per-file 100 --expect E.json
    python3 perfbench/gen.py tables --seed 1 --out DIR --expect E.json
    python3 perfbench/gen.py live --seed 1 --out DIR --start T --period 0.5 --files 24 --blocks-per-file 10 --expect E.json

``live`` is the open-loop block producer: file ``k`` is due at
``start + k * period`` (epoch seconds) whatever the consumer does. Each
file is written under a hidden name and renamed into place, so the file
source never lists a partial file. Every block's ``header.timestamp`` is
the time it was created.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.corpus import (  # noqa: E402
    FIRST_HEIGHT,
    CorpusGenerator,
    Expected,
    write_blocks,
    write_corpus,
)

#: The analytics query mix (registry names), timed in traced live_tail runs.
MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume",
    "sessionize_events",
    "parity_event_routing",
    "dedup_minhash_lsh_pairs",
    "ann_cosine_topk",
)


def _dump(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def cmd_corpus(a) -> None:
    os.makedirs(a.out, exist_ok=True)
    exp, nbytes = write_corpus(
        CorpusGenerator(a.seed), a.out, a.files, a.blocks_per_file, a.first_height
    )
    _dump(a.expect, {"expected": exp.to_json(), "bytes": nbytes})


def cmd_tables(a) -> None:
    import duckdb

    import __spark_entry__
    from perfbench.check import checksum
    from perfbench.tables import make_tables, planted_pairs, write_tables

    tables, groups = make_tables(a.seed)
    write_tables(tables, a.out)
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{a.out}/{name}.parquet'")
    oracle = __spark_entry__.oracle_sql()
    expected = {}
    for name in MIX:
        if name in oracle:
            rows, digest = checksum(con.execute(oracle[name]).fetch_arrow_table())
            expected[name] = {"rows": rows, "checksum": digest}
    con.close()
    _dump(a.expect, {"expected": expected, "pairs": planted_pairs(groups)})


def cmd_live(a) -> None:
    gen = CorpusGenerator(a.seed)
    exp, lateness, height = Expected(), [], a.first_height
    for k in range(a.files):
        due = a.start + k * a.period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        blocks = []
        for _ in range(a.blocks_per_file):
            blocks.append(gen.block(height, time.time_ns(), exp))
            height += 1
        tmp = os.path.join(a.out, f".live-{k:05d}.json")
        write_blocks(tmp, blocks)
        os.rename(tmp, os.path.join(a.out, f"live-{k:05d}.json"))
        lateness.append(time.time() - due)
    _dump(a.expect, {"expected": exp.to_json(), "lateness_s": lateness})


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("corpus", "tables", "live"):
        s = sub.add_parser(name)
        s.add_argument("--seed", type=int, required=True)
        s.add_argument("--out", required=True)
        s.add_argument("--expect", required=True)
        if name != "tables":
            s.add_argument("--files", type=int, required=True)
            s.add_argument("--blocks-per-file", type=int, required=True)
            s.add_argument("--first-height", type=int, default=FIRST_HEIGHT)
    live = sub.choices["live"]
    live.add_argument("--start", type=float, required=True)
    live.add_argument("--period", type=float, required=True)
    a = p.parse_args(argv)
    {"corpus": cmd_corpus, "tables": cmd_tables, "live": cmd_live}[a.cmd](a)
    return 0


if __name__ == "__main__":
    sys.exit(main())
