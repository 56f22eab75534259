"""Tests of the benchmark's own logic. Pure Python, no Spark:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

from perfbench.corpus import (
    ALL_TOPIC,
    TOPIC_PREFIX,
    N_CONTRACTS,
    CorpusGenerator,
    Expected,
    write_corpus,
)
from perfbench.stats import (
    MIN_BEYOND,
    due_latencies,
    highest_supported,
    percentile,
    samples_beyond,
    supports,
)

_FIELD = re.compile(r"^[a-zA-Z0-9._-]+$")
_PREFIX = "EVENT_JSON:"


def _corpus(tmp_path, seed: int, name: str, files: int = 3, blocks: int = 5):
    out = tmp_path / name
    out.mkdir()
    exp, nbytes = write_corpus(CorpusGenerator(seed), str(out), files, blocks)
    texts = {p: (out / p).read_text() for p in sorted(os.listdir(out))}
    return exp, nbytes, texts


def _classify(log: str):
    """The extraction rules, re-stated: trimmed prefix, envelope with all
    four members, ``standard``/``event`` matching the field pattern."""
    s = log.strip()
    if not s.startswith(_PREFIX):
        return None
    try:
        ev = json.loads(s[len(_PREFIX):].strip())
    except ValueError:
        return "parse_error"
    if not isinstance(ev, dict) or not {"standard", "version", "event", "data"} <= ev.keys():
        return "parse_error"
    if not (_FIELD.match(ev["standard"]) and _FIELD.match(ev["event"])):
        return "validation_error"
    return ev


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = _corpus(tmp_path, 7, "a")
    b = _corpus(tmp_path, 7, "b")
    c = _corpus(tmp_path, 8, "c")
    assert a[2] == b[2] and a[1] == b[1]
    assert a[0].to_json() == b[0].to_json()
    assert a[2] != c[2]


def test_expected_counts_match_an_independent_scan(tmp_path):
    exp, nbytes, texts = _corpus(tmp_path, 3, "corpus", files=2, blocks=20)
    logs_in, ok, rejected = 0, 0, Counter()
    per_block: dict[int, Counter] = {}
    for text in texts.values():
        for line in text.splitlines():
            block = json.loads(line)
            height = block["block"]["header"]["height"]
            counts = per_block.setdefault(height, Counter())
            for shard in block["shards"]:
                for outcome in shard["receipt_execution_outcomes"]:
                    contract = outcome["receipt"]["receiver_id"]
                    for log in outcome["execution_outcome"]["outcome"]["logs"]:
                        logs_in += 1
                        got = _classify(log)
                        if isinstance(got, str):
                            rejected[got] += 1
                        elif got is not None:
                            ok += 1
                            counts[(ALL_TOPIC, contract)] += 1
                            topic = f"{TOPIC_PREFIX}.{got['standard']}.{got['event']}"
                            counts[(topic, contract)] += 1
    assert nbytes == sum(len(t.encode()) for t in texts.values())
    assert (exp.logs_in, exp.events_ok) == (logs_in, ok)
    assert exp.rejected == rejected and set(rejected) == {"parse_error", "validation_error"}
    assert exp.per_block == per_block
    assert exp.records == 2 * ok
    # most log lines are not events; the mix has skewed, many-contract keys
    assert ok < logs_in / 2
    assert len({k for c in per_block.values() for (_, k) in c}) > 20


def test_expected_round_trips_through_json(tmp_path):
    exp, _, _ = _corpus(tmp_path, 5, "corpus")
    back = Expected.from_json(json.loads(json.dumps(exp.to_json())))
    assert back.to_json() == exp.to_json()


def test_zipf_keys_are_skewed():
    gen = CorpusGenerator(1)
    counts = Counter(gen.contract() for _ in range(20_000))
    top = counts.most_common(1)[0][1]
    assert top > 20 * (20_000 / N_CONTRACTS)  # far above a uniform share
    assert len(counts) > N_CONTRACTS / 3


def test_latency_runs_from_the_due_time():
    # file a was due at 10.0 and written late (at 10.3) by the generator;
    # it became visible at 10.5: its latency is 0.5 s, not 0.2 s
    due = {"a": 10.0, "b": 10.5, "c": 11.0}
    visible = {"a": 10.5, "b": 11.5}
    lat, missing = due_latencies(due, visible)
    assert lat == [0.5, 1.0]
    assert missing == ["c"]


def test_percentile_needs_ten_samples_beyond_it():
    assert MIN_BEYOND == 10
    assert samples_beyond(200, 95) == 10 and supports(200, 95)
    assert not supports(199, 95)
    assert supports(1000, 99) and not supports(999, 99)
    assert highest_supported(20) == 50
    assert highest_supported(19) is None
    assert highest_supported(200) == 95


def _sink_rows(exp: Expected) -> list[dict]:
    """The records a correct sink holds: counts per (topic, key, block),
    carrying the sampled values where there are samples."""
    samples: dict = {}
    for t, k, h, v in exp.samples:
        samples.setdefault((t, k, h), []).append(v)
    rows = []
    for h, counts in exp.per_block.items():
        for (t, k), n in counts.items():
            values = samples.get((t, k, h), [])
            rows += [{"topic": t, "key": k, "block_height": h,
                      "value": values[i] if i < len(values) else "x"}
                     for i in range(n)]
    return rows


def test_check_sink_flags_missing_and_altered_blocks(tmp_path):
    import pyarrow as pa

    from perfbench.check import check_sink

    exp, _, _ = _corpus(tmp_path, 9, "corpus", files=2, blocks=10)
    rows = _sink_rows(exp)
    assert check_sink(pa.Table.from_pylist(rows), exp) == []
    sampled = exp.samples[0]
    lost = next(r for r in rows if r["block_height"] != sampled[2])["block_height"]
    changed = [dict(r, value=r["value"] + " ") if r["value"] == sampled[3] else r
               for r in rows if r["block_height"] != lost]
    assert check_sink(pa.Table.from_pylist(changed), exp) == sorted({lost, sampled[2]})


def test_a_block_missing_with_its_file_counts_once(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.workloads import _bad_blocks

    exp, _, _ = _corpus(tmp_path, 9, "corpus", files=2, blocks=10)
    rows = _sink_rows(exp)
    lost = rows[0]["block_height"]
    out = tmp_path / "sink"
    out.mkdir()
    kept = [r for r in rows if r["block_height"] != lost]
    pq.write_table(pa.Table.from_pylist(kept), out / "part-0.parquet")
    # the block's file was never committed and its records are missing
    assert _bad_blocks(str(out), exp, sorted(exp.per_block), [lost]) == 1


def test_checksum_ignores_row_and_column_order():
    import pyarrow as pa

    from perfbench.check import checksum

    a = pa.table({"x": [1, 2, 3], "y": [0.1, 0.2, None]})
    b = pa.table({"y": [None, 0.1, 0.2], "x": [3, 1, 2]})
    assert checksum(a) == checksum(b)
    assert checksum(a) != checksum(pa.table({"x": [1, 2, 4], "y": [0.1, 0.2, None]}))


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4, 5], 50) == 3
    assert percentile([0, 10], 95) == 9.5
    assert percentile([4.0], 95) == 4.0


def test_granted_share_counts_steal_against_busy_time_only():
    from perfbench.harness import granted_share

    # user, nice, system, idle, iowait, irq, softirq, steal, guest, guest_nice
    before = [100, 0, 50, 1000, 5, 0, 10, 20, 0, 0]
    assert granted_share(before, before) == 1.0
    # 300 busy ticks, 100 stolen; the 5,000 idle ticks do not dilute it
    after = [300, 0, 100, 6000, 5, 0, 60, 120, 0, 0]
    assert granted_share(before, after) == 0.75
