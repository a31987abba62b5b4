"""Seeded inputs for the lake benchmark, and the model reads are checked
against.

Nothing here imports Spark. One seed gives byte-identical payloads and
operation sequences on any host: every draw comes from one
`random.Random(seed)` per plan, no clock or uuid is read, and payloads
are serialized by the engine's own rule (`json.dumps` with default
separators).

Record shapes follow the reference's three API payloads
(ingest-data-lambda.py:140-171): sales orders with an array of item
structs and a customer struct, customer profiles with a preferences
struct, and IoT metrics with a network struct and an array of readings.
"""

from __future__ import annotations

import json
import random
import re
from bisect import bisect_left
from dataclasses import dataclass, field

# the engine's tokenizer (engine._tokenize / engine.search)
_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")

DATA_TYPES = ("sales", "customers", "iot")

# one validate rule per data type; the generator breaks exactly
# `bad_rows(n)` records of every batch so each ingest quarantines a few
# percent and runs the same job sequence
RULES = {
    "sales": [
        ("total_nonneg", "CAST(get_json_object(payload, '$.total') AS DOUBLE) >= 0")
    ],
    "customers": [("email_has_at", "get_json_object(payload, '$.email') LIKE '%@%'")],
    "iot": [
        (
            "cpu_in_range",
            "CAST(get_json_object(payload, '$.cpu') AS DOUBLE) BETWEEN 0 AND 100",
        )
    ],
}

VOCAB = (
    "alpha amber anchor arctic atlas azure basalt beacon birch blaze bronze "
    "canyon cedar cobalt comet coral crimson delta dune ember falcon fjord "
    "flint forest garnet glacier granite harbor hazel indigo iris jasper "
    "juniper lagoon lantern lunar maple marble meadow mesa nebula nimbus "
    "oasis onyx orbit pebble pine prairie quartz raven reef ridge sable "
    "sierra slate summit tundra umber valley willow zenith"
).split()
REGIONS = ("north", "south", "east", "west", "central")
PRODUCTS = ("widget", "gadget", "gizmo", "sprocket", "bracket", "spindle")
DEVICES = 24
VECTOR_DIM = 8


def tokens(payload: str) -> set[str]:
    return {t for t in _TOKEN_SPLIT.split(payload.lower()) if t}


def zipf_cum_weights(n: int, s: float = 1.1) -> list[float]:
    total, out = 0.0, []
    for r in range(n):
        total += 1.0 / (r + 1) ** s
        out.append(total)
    return out


def bad_rows(n: int) -> int:
    return max(1, round(0.03 * n))


def fresh_token(cycle: int) -> str:
    """A token only batch `cycle` carries (VOCAB has no `fresh` word)."""
    return f"fresh{cycle:04d}"


def _words(rng: random.Random, k: int) -> str:
    return " ".join(rng.choices(VOCAB, cum_weights=_VOCAB_CUM, k=k))


_VOCAB_CUM = zipf_cum_weights(len(VOCAB))
# text-search terms: mid-frequency words, so result sizes (and with them
# search latency) stay alike from seed to seed
SEARCH_WORDS = VOCAB[4:16]


def _sales(rng: random.Random, cycle: int, i: int, bad: bool) -> dict:
    items = [
        {
            "product": rng.choice(PRODUCTS),
            "quantity": rng.randint(1, 9),
            "price": round(rng.uniform(1, 90), 2),
        }
        for _ in range(rng.randint(1, 4))
    ]
    total = round(sum(it["quantity"] * it["price"] for it in items), 2)
    return {
        "date": f"2026-01-{1 + (cycle + i) % 28:02d}",
        "items": items,
        "total": -total if bad else total,
        "customer": {"id": f"CUST-{rng.randrange(16**8):08x}", "region": rng.choice(REGIONS)},
        "note": f"{_words(rng, 6)} {fresh_token(cycle)}",
    }


def _customer(rng: random.Random, cycle: int, i: int, bad: bool) -> dict:
    uid = f"{rng.randrange(16**8):08x}"
    return {
        "userId": f"USER-{uid}",
        "name": f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}",
        "email": f"user{uid}.example.com" if bad else f"user{uid}@example.com",
        "preferences": {"theme": rng.choice(("dark", "light")), "notifications": rng.random() < 0.5},
        "lastLogin": f"2026-01-{1 + i % 28:02d}T{i % 24:02d}:{cycle % 60:02d}:00+00:00",
        "note": f"{_words(rng, 6)} {fresh_token(cycle)}",
    }


def _iot(rng: random.Random, cycle: int, i: int, bad: bool) -> dict:
    return {
        "timestamp": f"2026-01-01T{cycle % 24:02d}:{i % 60:02d}:00+00:00",
        "device": f"dev{rng.randrange(DEVICES):02d}",
        "cpu": 100.0 + round(rng.uniform(1, 50), 1) if bad else round(rng.uniform(0, 100), 1),
        "memory": round(rng.uniform(0, 100), 1),
        "network": {"in": rng.randrange(1 << 16), "out": rng.randrange(1 << 16)},
        "readings": [
            {"sensor": f"s{j}", "value": round(rng.gauss(20, 5), 3)}
            for j in range(rng.randint(1, 3))
        ],
        "note": f"{_words(rng, 6)} {fresh_token(cycle)}",
    }


_MAKERS = {"sales": _sales, "customers": _customer, "iot": _iot}


@dataclass
class Batch:
    cycle: int
    data_type: str
    records: list[dict]
    bad: frozenset[int]  # positions the validate rule must quarantine
    tags: list[str]
    owner: str

    @property
    def accepted(self) -> list[dict]:
        return [r for i, r in enumerate(self.records) if i not in self.bad]


def make_batch(rng: random.Random, cycle: int, data_type: str, n: int) -> Batch:
    bad = frozenset(rng.sample(range(n), bad_rows(n)))
    make = _MAKERS[data_type]
    return Batch(
        cycle=cycle,
        data_type=data_type,
        records=[make(rng, cycle, i, i in bad) for i in range(n)],
        bad=bad,
        tags=[f"cycle{cycle}", f"shard{cycle % 3}"],
        owner=f"team{rng.randrange(4)}",
    )


# -- operation plans ----------------------------------------------------


# One read round calls each kind once, in a seeded order. The reference
# gives no traffic weights: its query API (query-data-lambda.py) serves
# id, metadata, content and SQL queries with nothing that favours one.
# So every kind gets the same share, and the round totals (lookups:
# id + content; searches: the rest) move with every kind.
LOOKUP_KINDS = ("query_by_id", "get_content")
LIFECYCLE_ROUND = LOOKUP_KINDS + ("search_metadata", "search_tf", "search_bm25")
SERVING_ROUND = LOOKUP_KINDS + ("search_metadata", "search_tf", "vector_search_batch", "sql")


def lifecycle_plan(seed: int, cycles: int, batch_rows: int, rounds: int) -> dict:
    """Per cycle: one batch (data types rotate), the `rounds` read rounds
    that follow its indexing (none for cycle 0, the warm-up), and a keyed merge batch for the
    maintenance round. Ids are unknown until the engine mints them, so a
    read names a record as (cycle, accepted position); positions skew
    toward recent cycles (weight 2^-age). `search_tf` and `search_bm25`
    of one round share a word, so both must return the same id set."""
    rng = random.Random(seed)
    batches, reads, merges = [], [], []
    for c in range(cycles):
        b = make_batch(rng, c, DATA_TYPES[c % len(DATA_TYPES)], batch_rows)
        batches.append(b)
        n_ok = len(b.accepted)

        def one_round() -> list[list]:
            word = rng.choice(SEARCH_WORDS)
            kinds = list(LIFECYCLE_ROUND)
            rng.shuffle(kinds)
            ops = []
            for k in kinds:
                if k in LOOKUP_KINDS:
                    age = rng.choices(range(c + 1), weights=[2.0**-a for a in range(c + 1)])[0]
                    ops.append([k, c - age, rng.randrange(n_ok)])
                elif k == "search_metadata":
                    ops.append([k, b.data_type, rng.choice(b.tags)])
                else:
                    ops.append([k, word])
            return ops

        reads.append([one_round() for _ in range(rounds if c else 0)])
        merges.append(merge_batch(rng, c, 48) if c else [])
    return {"batches": batches, "reads": reads, "merges": merges, "accounts": accounts(seed)}


def accounts(seed: int, n: int = 200) -> list[tuple[int, str, float]]:
    """The keyed table `merge_versioned` rounds update: (k, tier, balance)."""
    rng = random.Random(seed ^ 0x5EED)
    return [(k, rng.choice(("free", "pro", "team")), round(rng.uniform(0, 1e4), 2)) for k in range(n)]


def merge_batch(rng: random.Random, cycle: int, n: int) -> list[tuple[int, str, float]]:
    """Half updates of existing keys, half inserts of new keys."""
    upd = rng.sample(range(200), n // 2)
    new = [1000 * (cycle + 1) + j for j in range(n - n // 2)]
    return [(k, rng.choice(("free", "pro", "team")), round(rng.uniform(0, 1e4), 2)) for k in upd + new]


SERVING_TYPES = ("sales",)


def serving_plan(seed: int, batch_rows: int, rounds: int, n_vectors: int) -> dict:
    """A fixed lake (one sales batch), an IVF corpus, and `rounds` read
    rounds with Zipf-skewed record keys. Each round calls every kind of
    SERVING_ROUND once, in a seeded order."""
    rng = random.Random(seed)
    batches = [make_batch(rng, c, dt, batch_rows) for c, dt in enumerate(SERVING_TYPES)]
    n_ok = sum(len(b.accepted) for b in batches)
    # key popularity: a seeded permutation of record positions, ranked
    ranked = list(range(n_ok))
    rng.shuffle(ranked)
    key_cum = zipf_cum_weights(n_ok)
    vectors = [[round(rng.gauss(0, 1), 4) for _ in range(VECTOR_DIM)] for _ in range(n_vectors)]

    def op(kind: str, word: str) -> list:
        if kind in LOOKUP_KINDS:
            return [kind, ranked[bisect_left(key_cum, rng.random() * key_cum[-1])]]
        if kind == "search_metadata":
            b = rng.choice(batches)
            return [kind, b.data_type, rng.choice(b.tags)]
        if kind == "search_tf":
            return [kind, word]
        if kind == "vector_search_batch":
            return [kind, [[round(rng.gauss(0, 1), 4) for _ in range(VECTOR_DIM)] for _ in range(2)]]
        return [kind, rng.choice(SERVING_TYPES)]

    def one_round() -> list[list]:
        word = rng.choice(SEARCH_WORDS)
        kinds = list(SERVING_ROUND)
        rng.shuffle(kinds)
        return [op(k, word) for k in kinds]

    return {"batches": batches, "rounds": [one_round() for _ in range(rounds)], "vectors": vectors}


def plan_bytes(plan: dict) -> bytes:
    """Canonical serialization of a plan; equal bytes = equal inputs."""

    def enc(o):
        if isinstance(o, Batch):
            return {**o.__dict__, "bad": sorted(o.bad)}
        raise TypeError(type(o))

    return json.dumps(plan, default=enc, sort_keys=True).encode()


# -- model ----------------------------------------------------------------


@dataclass
class Doc:
    payload: str
    data_type: str
    tags: list[str]
    owner: str
    tokens: set[str] = field(repr=False)


class LakeModel:
    """What the lake must answer, built from what was ingested."""

    def __init__(self) -> None:
        self.docs: dict[str, Doc] = {}
        self.by_cycle: dict[int, list[str]] = {}
        self.order: list[str] = []  # accepted ids in ingest order
        self.accounts: dict[int, tuple[str, float]] = {}

    def accept(self, batch: Batch, ids: list[str]) -> bool:
        """Record a batch's accepted ids; False if the engine accepted a
        different number of rows than the rule should have let through."""
        ok = batch.accepted
        if len(ids) != len(ok) or len(set(ids)) != len(ids):
            return False
        for i, rec in zip(ids, ok):
            payload = json.dumps(rec)
            self.docs[i] = Doc(payload, batch.data_type, list(batch.tags), batch.owner, tokens(payload))
        self.by_cycle[batch.cycle] = list(ids)
        self.order.extend(ids)
        return True

    def ids_with_token(self, tok: str) -> set[str]:
        return {i for i, d in self.docs.items() if tok in d.tokens}

    def ids_tagged(self, data_type: str, tag: str) -> set[str]:
        return {i for i, d in self.docs.items() if d.data_type == data_type and tag in d.tags}

    def type_counts(self, data_type: str) -> tuple[int, int]:
        """(rows, payload bytes) of accepted records of one type."""
        sizes = [len(d.payload.encode()) for d in self.docs.values() if d.data_type == data_type]
        return len(sizes), sum(sizes)

    def payload_bytes(self) -> int:
        return sum(len(d.payload.encode()) for d in self.docs.values())

    def merge(self, rows: list[tuple[int, str, float]]) -> None:
        for k, tier, bal in rows:
            self.accounts[k] = (tier, bal)
