"""Seeded NEAR-shaped StreamerMessage corpus and its expected sink output.

Pure Python, no Spark: the expectations are computed here, independently of
the program, from the same rules the program implements (prefix filter on
the whitespace-trimmed log, envelope parse, ``^[a-zA-Z0-9._-]+$`` check on
``standard``/``event``, NEP-171 untagged-union typing, two routed records
per valid event).

Shape per block: several shards, several receipts per shard, one to four
log lines per receipt. Most log lines are plain text; event lines come with
optional whitespace padding; a small share are parse or validation rejects.
Receiver (contract) ids follow a Zipf law over many contracts, so the
sink's ``repartition(key)`` sees realistic key skew.
"""

from __future__ import annotations

import bisect
import json
import random
import string
from collections import Counter
from dataclasses import dataclass, field

ALL_TOPIC = "near_events_all"
TOPIC_PREFIX = "near_events"

_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_PAD = ("", "", "", " ", "  ", "\t", "\n")
_TAIL_PAD = ("", "", "", " ", "\n", " \t")
_PLAIN_LOGS = (
    "Transfer {n} from {a} to {b}",
    "Refund {n} from {a} to {b}",
    "Transfer amount {n} to {b}",
    "Storage deposit of {n} for {a}",
    "EVENT_JSON {{\"standard\":\"nep171\"}}",  # no colon: not an event line
    "event_json:{{\"standard\":\"nep171\",\"event\":\"nft_mint\"}}",
    "Swapped {n} wrap.near for {m} usdt.tether-token.near",
)


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


#: Block shape and log mix: about 13 valid events per block.
SHARDS_PER_BLOCK = 4
RECEIPTS_PER_SHARD = (2, 6)
LOGS_PER_RECEIPT = (1, 4)
N_CONTRACTS = 3000
ZIPF_S = 1.1
EVENT_SHARE = 0.35
PARSE_REJECT_SHARE = 0.03
VALIDATION_REJECT_SHARE = 0.02
#: One valid event in this many has its serialized values kept for the
#: byte-for-byte check.
SAMPLE_EVERY = 10


@dataclass
class Expected:
    """What the sink must hold after the corpus is drained."""

    logs_in: int = 0
    events_ok: int = 0
    rejected: Counter = field(default_factory=Counter)
    # block height -> Counter of (topic, key) routed records
    per_block: dict = field(default_factory=dict)
    # (topic, key, block height, serialized value) for a sample of events
    samples: list = field(default_factory=list)

    @property
    def records(self) -> int:
        return sum(sum(c.values()) for c in self.per_block.values())

    def to_json(self) -> dict:
        return {
            "logs_in": self.logs_in,
            "events_ok": self.events_ok,
            "rejected": dict(self.rejected),
            "per_block": [[h, t, k, n] for h, c in self.per_block.items()
                          for (t, k), n in c.items()],
            "blocks": sorted(self.per_block),
            "samples": self.samples,
        }

    @classmethod
    def from_json(cls, d: dict) -> "Expected":
        per_block: dict = {h: Counter() for h in d["blocks"]}
        for h, t, k, n in d["per_block"]:
            per_block[h][(t, k)] = n
        return cls(d["logs_in"], d["events_ok"], Counter(d["rejected"]),
                   per_block, [tuple(s) for s in d["samples"]])


class CorpusGenerator:
    """Deterministic block factory: same seed, same blocks."""

    def __init__(self, seed: int):
        # The contract universe is the same for every seed, so the key skew
        # the sink's repartition sees does not change from seed to seed.
        self.rng = random.Random(0)
        weights = [1.0 / (r ** ZIPF_S) for r in range(1, N_CONTRACTS + 1)]
        total = sum(weights)
        acc, self._cdf = 0.0, []
        for w in weights:
            acc += w / total
            self._cdf.append(acc)
        self._contracts = [self._account(r) for r in range(N_CONTRACTS)]
        self._owners = [f"user{i}.near" for i in range(500)]
        self.rng = random.Random(seed)

    # -- small pieces -----------------------------------------------------
    def _account(self, rank: int) -> str:
        stem = "".join(self.rng.choices(string.ascii_lowercase, k=6))
        return f"{stem}-{rank}.near"

    def contract(self) -> str:
        i = bisect.bisect_left(self._cdf, self.rng.random())
        return self._contracts[min(i, len(self._contracts) - 1)]

    def receipt_id(self) -> str:
        return "".join(self.rng.choices(_B58, k=44))

    def owner(self) -> str:
        return self.rng.choice(self._owners)

    def tokens(self) -> list[str]:
        return [
            f"{self.rng.randrange(1, 9999)}:{self.rng.randrange(1, 99)}"
            for _ in range(self.rng.randint(1, 3))
        ]

    # -- events -----------------------------------------------------------
    def valid_event(self) -> tuple[str, str, str, str]:
        """(event JSON text, standard, event, serialized data member)."""
        # Typed NEP-171 payloads serialize as a one-shape array whatever
        # form they arrived in; generic payloads pass through verbatim.
        r = self.rng.random()
        if r < 0.30:  # NEP-171 mint, array or flat form
            item = {"owner_id": self.owner(), "token_ids": self.tokens()}
            if self.rng.random() < 0.2:
                item["memo"] = f"drop{self.rng.randrange(100)}"
            std, ev, typed = "nep171", "nft_mint", True
        elif r < 0.55:  # NEP-171 transfer, array or flat form
            item = {"old_owner_id": self.owner(), "new_owner_id": self.owner(),
                    "token_ids": self.tokens()}
            if self.rng.random() < 0.3:
                item = {"authorized_id": self.owner(), **item}
            std, ev, typed = "nep171", "nft_transfer", True
        elif r < 0.85:  # NEP-141 fungible transfer: no token_ids, generic
            item = [{"old_owner_id": self.owner(), "new_owner_id": self.owner(),
                     "amount": str(self.rng.randrange(1, 10**12))}]
            std, ev, typed = "nep141", "ft_transfer", False
        else:  # application events, generic object payload
            item = {"pool_id": self.rng.randrange(1, 500),
                    "amounts": [str(self.rng.randrange(1, 10**9)) for _ in range(2)]}
            std, typed = "dex-v2", False
            ev = self.rng.choice(("swap", "add_liquidity", "stake", "vote"))
        if typed:
            payload = [item] if self.rng.random() < 0.7 else item
            data = _dumps([item])
        else:
            payload, data = item, _dumps(item)
        text = _dumps({"standard": std, "version": "1.0.0", "event": ev,
                       "data": payload})
        return text, std, ev, data

    def reject_event(self, reason: str) -> str:
        if reason == "parse_error":
            if self.rng.random() < 0.5:  # truncated JSON
                full = _dumps({"standard": "nep171", "version": "1.0.0",
                               "event": "nft_mint", "data": []})
                # cut before "event" so no partial parse can pass
                return full[: self.rng.randrange(5, full.index('"event"'))]
            # envelope without the required data member
            return _dumps({"standard": "nep171", "version": "1.0.0",
                           "event": "nft_burn"})
        bad = self.rng.choice((("nep 171", "nft_mint"), ("nep171", "nft mint!"),
                               ("nep171/x", "nft_transfer")))
        return _dumps({"standard": bad[0], "version": "1.0.0", "event": bad[1],
                       "data": {"x": 1}})

    def plain_log(self) -> str:
        return self.rng.choice(_PLAIN_LOGS).format(
            n=self.rng.randrange(1, 10**6), m=self.rng.randrange(1, 10**6),
            a=self.owner(), b=self.owner(),
        )

    # -- blocks -----------------------------------------------------------
    def block(self, height: int, timestamp_ns: int, exp: Expected) -> dict:
        rng = self.rng
        exp.per_block.setdefault(height, Counter())
        shards = []
        for shard_id in range(SHARDS_PER_BLOCK):
            outcomes = []
            for _ in range(rng.randint(*RECEIPTS_PER_SHARD)):
                rid, contract = self.receipt_id(), self.contract()
                logs = []
                for _ in range(rng.randint(*LOGS_PER_RECEIPT)):
                    exp.logs_in += 1
                    r = rng.random()
                    if r >= EVENT_SHARE:
                        logs.append(self.plain_log())
                        continue
                    r /= EVENT_SHARE
                    pad = rng.choice(_PAD) + "EVENT_JSON:" + rng.choice(("", " "))
                    if r < PARSE_REJECT_SHARE:
                        exp.rejected["parse_error"] += 1
                        logs.append(pad + self.reject_event("parse_error"))
                        continue
                    if r < PARSE_REJECT_SHARE + VALIDATION_REJECT_SHARE:
                        exp.rejected["validation_error"] += 1
                        logs.append(pad + self.reject_event("validation_error"))
                        continue
                    text, std, ev, data = self.valid_event()
                    logs.append(pad + text + rng.choice(_TAIL_PAD))
                    self._expect(exp, std, ev, data, rid, contract, height,
                                 timestamp_ns, shard_id)
                outcomes.append({
                    "receipt": {"receipt_id": rid, "receiver_id": contract},
                    "execution_outcome": {"outcome": {"logs": logs}},
                })
            shards.append({"shard_id": shard_id,
                           "receipt_execution_outcomes": outcomes})
        return {"block": {"header": {"height": height, "timestamp": timestamp_ns}},
                "shards": shards}

    def _expect(self, exp, std, ev, data, rid, contract, height, ts,
                shard_id) -> None:
        exp.events_ok += 1
        topics = (ALL_TOPIC, f"{TOPIC_PREFIX}.{std}.{ev}")
        counts = exp.per_block.setdefault(height, Counter())
        for t in topics:
            counts[(t, contract)] += 1
        if exp.events_ok % SAMPLE_EVERY == 0:
            value = serialized_value(std, "1.0.0", ev, data, rid, ts, height,
                                     shard_id, contract)
            exp.samples.extend((t, contract, height, value) for t in topics)


def serialized_value(std, version, ev, data, rid, ts, height, shard_id,
                     contract) -> str:
    """The routed record's ``value``: envelope, data, then emit_info."""
    emit = _dumps({"receipt_id": rid, "block_timestamp": ts,
                   "block_height": height, "shard_id": shard_id,
                   "contract_account_id": contract})
    head = _dumps({"standard": std, "version": version, "event": ev})
    return f'{head[:-1]},"data":{data},"emit_info":{emit}}}'


def write_blocks(path: str, blocks: list[dict]) -> int:
    """Write JSON-lines blocks; returns bytes written."""
    text = "".join(_dumps(b) + "\n" for b in blocks)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return len(text.encode("utf-8"))


#: First block height and its timestamp for replayed (catch-up) corpora;
#: later blocks follow at one per second, like the NEAR chain.
FIRST_HEIGHT = 120_000_000
FIRST_TS_NS = 1_700_000_000 * 10**9


def write_corpus(
    gen: CorpusGenerator,
    out_dir: str,
    n_files: int,
    blocks_per_file: int,
    first_height: int = FIRST_HEIGHT,
) -> tuple[Expected, int]:
    """Write ``n_files`` JSON-lines files of consecutive blocks into
    ``out_dir``; returns (expectations, bytes written)."""
    exp, nbytes = Expected(), 0
    height = first_height
    for k in range(n_files):
        blocks = []
        for _ in range(blocks_per_file):
            ts = FIRST_TS_NS + (height - FIRST_HEIGHT) * 10**9
            blocks.append(gen.block(height, ts, exp))
            height += 1
        nbytes += write_blocks(f"{out_dir}/blocks-{k:05d}.json", blocks)
    return exp, nbytes
