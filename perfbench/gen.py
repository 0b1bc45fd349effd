"""Seeded raw-feed generator with ground truth.

Builds a Starknet-shaped event chain covering every event family the
refresh tiers read (``runtime.OPERATIONAL`` / ``ANALYTICAL`` /
``HOURLY``), encodes each event to the felt layout of
``decode.EVENT_PARSERS`` and writes the feed as parquet with pyarrow,
never with Spark. The chain carries reorgs: ``invalidate`` markers that
roll back the last 1-3 blocks, after which those blocks are replayed
with different content. Ground truth is kept net of reorgs: stored rows
per table, the last valid block and the expected ``pool_states`` row of
every pool.

Everything is a pure function of the seed; the program under test only
ever sees the written files.
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from starknet_indexer_spark import decode as D
from starknet_indexer_spark.ingest import (
    EVENT_SELECTORS,
    LIMIT_ORDER_TICK_SPACING,
    MAX_TICK_SPACING,
    SIDE_TABLES,
    STORED_PROJECTIONS,
)

GENESIS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
BLOCK_SECONDS = 60
CORE = 0xE0B0  # core contract: pool, position and fee events
TWAMM = 0x7A44
ORACLE = 0x0AC1
LIMIT_ORDERS = 0x11E0
SPLINE = 0x5A11
STAKER = 0x57A1
GOVERNOR = 0x60E1
TOKEN_REGISTRY = 0x7E61
POSITIONS = 0x9051
#: the market (tokens and pools) is the same for every seed, which only
#: draws the traffic: the pools' keys then hash alike in every run, so
#: the file layout of the pool views does not change with the seed
MARKET_SEED = 0
N_TOKENS = 8
N_POOLS = 12
#: about every REORG_EVERY-th block is followed by a reorg
REORG_EVERY = 20
BLOCKS_PER_FILE = 200

# Steady-state per-event family weights of a block (setup-only
# families — registrations, pool initializations, governor config —
# are emitted once in the first block).
FAMILY_WEIGHTS = {
    "swapped": 30,
    "position_updated": 12,
    "fees_accumulated": 5,
    "position_fees_collected": 5,
    "protocol_fees_paid": 4,
    "staker_staked": 6,
    "staker_withdrawn": 3,
    "twamm_order_updated": 4,
    "twamm_virtual_orders_executed": 3,
    "oracle_snapshot": 4,
    "limit_order_placed": 3,
    "limit_order_closed": 2,
    "liquidity_updated": 3,
    "governor_voted": 2,
    "nft_transfer": 2,
    "position_minted_with_referrer": 1,
}

#: families emitted once, in the first block
GENESIS_FAMILIES = (
    "pool_initialized",
    "token_registration",
    "token_registration_v3",
    "governor_reconfigured",
    "governor_proposed",
)
ALL_FAMILIES = tuple(FAMILY_WEIGHTS) + GENESIS_FAMILIES
#: families no refresh tier or the staker-rewards function reads
UNREAD_FAMILIES = ("nft_transfer", "position_minted_with_referrer")
VIEW_FAMILIES = tuple(f for f in ALL_FAMILIES if f not in UNREAD_FAMILIES)
#: the families the per-block tier (runtime.OPERATIONAL) reads
OPERATIONAL_FAMILIES = (
    "pool_initialized",
    "swapped",
    "position_updated",
    "twamm_order_updated",
    "twamm_virtual_orders_executed",
    "limit_order_placed",
    "limit_order_closed",
    "oracle_snapshot",
    "liquidity_updated",
)
#: the rest of VIEW_FAMILIES: read only by the 5-minute tier and the
#: staker-rewards function
ANALYTICAL_FAMILIES = tuple(f for f in VIEW_FAMILIES if f not in OPERATIONAL_FAMILIES)

FEED_SCHEMA = pa.schema(
    [
        pa.field("block_number", pa.int32(), nullable=False),
        pa.field("block_hash", pa.string()),
        pa.field("block_time", pa.timestamp("us", tz="UTC")),
        pa.field("transaction_index", pa.int32(), nullable=False),
        pa.field("event_index", pa.int32(), nullable=False),
        pa.field("transaction_hash", pa.string()),
        pa.field("emitter", pa.string()),
        pa.field("keys", pa.list_(pa.string()), nullable=False),
        pa.field("data", pa.list_(pa.string()), nullable=False),
        pa.field("finality", pa.string()),
    ]
)


# ---------------------------------------------------------------------------
# Felt encoding: the inverse of decode.EVENT_PARSERS
# ---------------------------------------------------------------------------


def _short_string_felt(s: str) -> int:
    return int.from_bytes(s.encode(), "big") if s else 0


def encode(parser: D.Parser, value) -> list[str]:
    """Python value -> felt hex strings, walking the same parser tree
    ``decode`` walks. Addresses and felts are ints, fixed-width
    integers ints, i129 a signed int, structs dicts, spans lists."""
    if parser is D.boolean:
        return [hex(1 if value else 0)]
    if parser is D.short_string:
        return [hex(_short_string_felt(value))]
    if parser is D.u256:
        return [hex(value & ((1 << 128) - 1)), hex(value >> 128)]
    if parser is D.i129:
        return [hex(abs(value)), hex(1 if value < 0 else 0)]
    if parser is D.byte_array:
        raw = value.encode()
        n = len(raw) // 31
        words = [hex(int.from_bytes(raw[i * 31 : (i + 1) * 31], "big")) for i in range(n)]
        pending = raw[n * 31 :]
        return [hex(n), *words, hex(int.from_bytes(pending, "big")), hex(len(pending))]
    if isinstance(parser, D._OneFelt):
        return [hex(value)]
    if isinstance(parser, D._Struct):
        out: list[str] = []
        for name, _, p in parser.ordered:
            out += encode(p, value[name])
        return out
    if isinstance(parser, D._Span):
        out = [hex(len(value))]
        for v in value:
            out += encode(parser.element, v)
        return out
    if isinstance(parser, D._Optional):
        return [] if value is None else encode(parser.inner, value)
    raise TypeError(f"no encoder for {parser!r}")


def normalize_decoded(parser: D.Parser, value):
    """A decoded Spark value (Row / Decimal / 0x-string) -> the Python
    value ``encode`` takes, so a decode round-trip compares equal."""
    if value is None:
        return None
    if parser is D.boolean or parser is D.short_string or parser is D.byte_array:
        return value
    if isinstance(parser, D._Struct):
        return {name: normalize_decoded(p, value[name]) for name, _, p in parser.ordered}
    if isinstance(parser, D._Span):
        return [normalize_decoded(parser.element, v) for v in value]
    if isinstance(parser, D._Optional):
        return normalize_decoded(parser.inner, value)
    if isinstance(value, str):
        return int(value, 16)
    return int(value)


# ---------------------------------------------------------------------------
# The chain
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Pool:
    token0: int
    token1: int
    fee: int
    tick_spacing: int
    extension: int

    def key(self) -> dict:
        return {
            "token0": self.token0,
            "token1": self.token1,
            "fee": self.fee,
            "tick_spacing": self.tick_spacing,
            "extension": self.extension,
        }

    def ident(self) -> tuple[str, str, int, int, str]:
        """The pool_keys row as the program stores it."""
        return (hex(self.token0), hex(self.token1), self.fee, self.tick_spacing, hex(self.extension))


@dataclass
class Event:
    block: int
    tx: int
    family: str
    emitter: int
    value: dict


@dataclass
class Chain:
    """Generated feed plus its ground truth (net of reorgs)."""

    seed: int
    tokens: list[int]
    pools: list[Pool]
    #: feed messages in order: ("block", number, [Event]) or ("invalidate", last_valid)
    messages: list[tuple] = field(default_factory=list)

    def canonical(self, families=None, last=None) -> dict[int, list[Event]]:
        """Block number -> events of the surviving fork; with
        ``families``, only their events and the blocks that have any;
        with ``last``, only the blocks up to it."""
        blocks: dict[int, list[Event]] = {}
        for msg in self.messages:
            if msg[0] == "invalidate":
                for b in [b for b in blocks if b > msg[1]]:
                    del blocks[b]
            else:
                blocks[msg[1]] = msg[2]
        if last is not None:
            blocks = {b: evs for b, evs in blocks.items() if b <= last}
        if families is None:
            return blocks
        kept = {b: [e for e in evs if e.family in families] for b, evs in blocks.items()}
        return {b: evs for b, evs in kept.items() if evs}

    def last_valid_block(self, families=None) -> int:
        return max(self.canonical(families))

    def n_events(self, families=None) -> int:
        return sum(len(evs) for evs in self.canonical(families).values())

    def table_rows(self, families=None, last=None) -> dict[str, int]:
        """Stored rows per table, as ingest must write them from the
        events of ``families`` (default: all) up to block ``last``."""
        canon = self.canonical(families, last)
        rows: dict[str, int] = {"blocks": len(canon)}
        for evs in canon.values():
            for e in evs:
                table = STORED_PROJECTIONS.get(e.family, (e.family, None))[0]
                rows[table] = rows.get(table, 0) + 1
                for side, _ in SIDE_TABLES.get(e.family, ()):
                    n = len(e.value["calls"]) if side == "governor_proposed_calls" else 1
                    if n:
                        rows[side] = rows.get(side, 0) + n
        if "pool_initializations" in rows:  # every pool is initialized in block 1
            rows["pool_keys"] = len(self.pools)
        return rows

    def pool_states(self) -> dict[tuple, tuple[int, int]]:
        """Pool ident -> (tick, liquidity) by the pool_states rule: the
        latest swap anchors tick and liquidity (else the pool's
        initialization, liquidity 0); later position updates whose
        [lower, upper) holds the tick add their liquidity delta."""
        anchor: dict[Pool, tuple[int, int, int]] = {}  # tick, liquidity, order
        updates: dict[Pool, list[tuple[int, int, int, int]]] = {}
        for b, evs in sorted(self.canonical().items()):
            for e in evs:
                order = (b << 32) + (e.tx << 16)
                v = e.value
                if e.family == "pool_initialized":
                    p = _pool_of(v["pool_key"])
                    if p not in anchor:
                        anchor[p] = (v["tick"], 0, order)
                elif e.family == "swapped":
                    p = _pool_of(v["pool_key"])
                    anchor[p] = (v["tick_after"], v["liquidity_after"], order)
                elif e.family == "position_updated":
                    p = _pool_of(v["pool_key"])
                    b_ = v["params"]["bounds"]
                    updates.setdefault(p, []).append(
                        (order, b_["lower"], b_["upper"], v["params"]["liquidity_delta"])
                    )
        out = {}
        for p, (tick, liq, at) in anchor.items():
            later = sum(
                d
                for o, lo, hi, d in updates.get(p, ())
                if o > at and lo <= tick <= hi - 1
            )
            out[p.ident()] = (tick, liq + later)
        return out


def _pool_of(key: dict) -> Pool:
    return Pool(**key)


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        r = random.Random(MARKET_SEED)
        self.tokens = sorted(r.sample(range(1 << 40, 1 << 48), N_TOKENS))
        self.pools: list[Pool] = []
        pairs = [(a, b) for i, a in enumerate(self.tokens) for b in self.tokens[i + 1 :]]
        for t0, t1 in r.sample(pairs, N_POOLS):
            self.pools.append(Pool(t0, t1, r.choice([1 << 60, 1 << 62, 3 << 60]), 60, 0))
        t0, t1 = self.tokens[0], self.tokens[1]
        # sentinel pools whose keys the ingest derives from order keys
        self.twamm_pool = Pool(t0, t1, 1 << 61, MAX_TICK_SPACING, TWAMM)
        self.oracle_pool = Pool(t0, t1, 0, MAX_TICK_SPACING, ORACLE)
        self.limit_pool = Pool(t0, t1, 0, LIMIT_ORDER_TICK_SPACING, LIMIT_ORDERS)
        self.spline_pool = Pool(t0, self.tokens[2], 1 << 60, 100, SPLINE)
        self.all_pools = self.pools + [
            self.twamm_pool,
            self.oracle_pool,
            self.limit_pool,
            self.spline_pool,
        ]
        r = self.rng
        self.users = [r.randrange(1 << 40, 1 << 50) for _ in range(24)]
        self.delegates = self.users[:6]
        self.proposals: list[int] = []
        self.next_token_id = 1
        self.tick = {p: r.randrange(-2000, 2000) // 60 * 60 for p in self.all_pools}

    def genesis(self, families) -> list[tuple[str, int, dict]]:
        r = self.rng
        out: list[tuple[str, int, dict]] = []
        for i, t in enumerate(self.tokens):
            fam = "token_registration" if i % 2 == 0 else "token_registration_v3"
            if fam not in families:
                continue
            out.append(
                (
                    fam,
                    TOKEN_REGISTRY,
                    {
                        "address": t,
                        "name": f"Token {i}" if fam.endswith("v3") else _short_string_felt(f"Token {i}"),
                        "symbol": f"T{i}" if fam.endswith("v3") else _short_string_felt(f"T{i}"),
                        "decimals": 18,
                        "total_supply": r.randrange(1 << 50, 1 << 60),
                    },
                )
            )
        for p in self.all_pools:
            out.append(
                (
                    "pool_initialized",
                    CORE,
                    {"pool_key": p.key(), "tick": self.tick[p], "sqrt_ratio": 1 << 96},
                )
            )
        if "governor_proposed" not in families:
            return out
        out.append(
            (
                "governor_reconfigured",
                GOVERNOR,
                {
                    "new_config": {
                        "voting_start_delay": 3600,
                        "voting_period": 7200,
                        "voting_weight_smoothing_duration": 600,
                        "quorum": 1000,
                        "proposal_creation_threshold": 10,
                        "execution_delay": 60,
                        "execution_window": 600,
                    },
                    "version": 0,
                },
            )
        )
        out += [self._proposal() for _ in range(3)]
        return out

    def _proposal(self) -> tuple[str, int, dict]:
        r = self.rng
        pid = r.randrange(1, 1 << 40)
        self.proposals.append(pid)
        calls = [
            {"to": r.choice(self.tokens), "selector": r.randrange(1, 1 << 60),
             "calldata": [r.randrange(0, 1 << 40) for _ in range(r.randrange(0, 3))]}
            for _ in range(r.randrange(1, 3))
        ]
        return (
            "governor_proposed",
            GOVERNOR,
            {"id": pid, "proposer": r.choice(self.users), "calls": calls, "config_version": 0},
        )

    def event(self, family: str) -> tuple[str, int, dict]:
        r = self.rng
        amt = lambda: r.randrange(1, 1 << 40)  # noqa: E731
        pos_key = lambda p: {  # noqa: E731
            "salt": r.randrange(0, 1 << 32),
            "owner": r.choice(self.users),
            "bounds": {"lower": self.tick[p] - 600, "upper": self.tick[p] + 600},
        }
        if family == "swapped":
            p = r.choice(self.pools)
            self.tick[p] += r.choice([-60, 0, 60])
            a0, a1 = amt(), amt()
            sign = r.random() < 0.5
            return family, CORE, {
                "locker": r.choice(self.users),
                "pool_key": p.key(),
                "params": {"amount": a0, "is_token1": sign, "sqrt_ratio_limit": 1 << 100,
                           "skip_ahead": 0},
                "delta": {"amount0": a0 if not sign else -a0, "amount1": -a1 if not sign else a1},
                "sqrt_ratio_after": (1 << 96) + r.randrange(0, 1 << 90),
                "tick_after": self.tick[p],
                "liquidity_after": r.randrange(1 << 20, 1 << 50),
            }
        if family == "position_updated":
            p = r.choice(self.pools)
            lo = self.tick[p] + r.choice([-1200, -600, 0, 600])
            liq = r.randrange(-(1 << 30), 1 << 32)
            return family, CORE, {
                "locker": r.choice(self.users),
                "pool_key": p.key(),
                "params": {"salt": r.randrange(0, 1 << 32),
                           "bounds": {"lower": lo, "upper": lo + r.choice([600, 1200])},
                           "liquidity_delta": liq},
                "delta": {"amount0": amt(), "amount1": amt()},
            }
        if family == "fees_accumulated":
            p = r.choice(self.pools)
            return family, CORE, {"pool_key": p.key(), "amount0": amt(), "amount1": amt()}
        if family in ("position_fees_collected", "protocol_fees_paid"):
            p = r.choice(self.pools)
            return family, CORE, {
                "pool_key": p.key(),
                "position_key": pos_key(p),
                "delta": {"amount0": -amt(), "amount1": -amt()},
            }
        if family == "staker_staked":
            return family, STAKER, {"from": r.choice(self.users), "amount": amt(),
                                    "delegate": r.choice(self.delegates)}
        if family == "staker_withdrawn":
            return family, STAKER, {"from": r.choice(self.users),
                                    "delegate": r.choice(self.delegates),
                                    "to": r.choice(self.users), "amount": r.randrange(1, 1 << 20)}
        if family == "twamm_order_updated":
            p = self.twamm_pool
            sell_first = r.random() < 0.5
            start = int(GENESIS.timestamp()) + r.randrange(0, 86400 * 3) // 256 * 256
            key = {
                "sell_token": p.token0 if sell_first else p.token1,
                "buy_token": p.token1 if sell_first else p.token0,
                "fee": p.fee,
                "start_time": start,
                "end_time": start + 256 * r.randrange(1, 64),
            }
            return family, TWAMM, {
                "owner": r.choice(self.users), "salt": r.randrange(1, 1 << 32),
                "order_key": key, "sale_rate_delta": r.randrange(-(1 << 20), 1 << 32),
            }
        if family == "twamm_virtual_orders_executed":
            p = self.twamm_pool
            return family, TWAMM, {
                "key": {"token0": p.token0, "token1": p.token1, "fee": p.fee},
                "token0_sale_rate": amt(), "token1_sale_rate": amt(),
                "twamm_delta": {"amount0": r.randrange(-(1 << 30), 1 << 30),
                                "amount1": r.randrange(-(1 << 30), 1 << 30)},
            }
        if family == "oracle_snapshot":
            p = self.oracle_pool
            return family, ORACLE, {
                "token0": p.token0, "token1": p.token1, "index": r.randrange(0, 1 << 16),
                "snapshot": {"block_timestamp": int(GENESIS.timestamp()) + r.randrange(0, 1 << 20),
                             "tick_cumulative": r.randrange(-(1 << 40), 1 << 40)},
            }
        if family in ("limit_order_placed", "limit_order_closed"):
            p = self.limit_pool
            key = {"token0": p.token0, "token1": p.token1,
                   "tick": self.tick[p] + 128 * r.randrange(-8, 8)}
            base = {"owner": r.choice(self.users), "salt": r.randrange(1, 1 << 32), "order_key": key}
            if family == "limit_order_placed":
                return family, LIMIT_ORDERS, {**base, "liquidity": amt(), "amount": amt()}
            return family, LIMIT_ORDERS, {**base, "amount0": amt(), "amount1": amt()}
        if family == "liquidity_updated":
            p = self.spline_pool
            return family, SPLINE, {
                "pool_key": p.key(), "sender": r.choice(self.users),
                "liquidity_factor": r.randrange(-(1 << 30), 1 << 32), "shares": amt(),
                "amount0": r.randrange(-(1 << 30), 1 << 32), "amount1": r.randrange(-(1 << 30), 1 << 32),
                "protocol_fees0": r.randrange(0, 1 << 20), "protocol_fees1": r.randrange(0, 1 << 20),
            }
        if family == "governor_voted":
            return family, GOVERNOR, {"id": r.choice(self.proposals), "voter": r.choice(self.users),
                                      "weight": amt(), "yea": r.random() < 0.6}
        if family == "nft_transfer":
            return family, POSITIONS, {"from": r.choice(self.users), "to": r.choice(self.users),
                                       "id": r.randrange(1, 1 << 30)}
        if family == "position_minted_with_referrer":
            self.next_token_id += 1
            return family, POSITIONS, {"id": self.next_token_id, "referrer": r.choice(self.users)}
        raise KeyError(family)

    def block(self, number: int, n_events: int, families) -> list[Event]:
        fams = [f for f in FAMILY_WEIGHTS if f in families]
        weights = [FAMILY_WEIGHTS[f] for f in fams]
        picks = (
            self.genesis(families)
            if number == 1
            else [self.event(f) for f in self.rng.choices(fams, weights, k=n_events)]
        )
        return [Event(number, i, fam, em, v) for i, (fam, em, v) in enumerate(picks)]


def generate_chain(seed: int, n_blocks: int, events_per_block: int, families=ALL_FAMILIES) -> Chain:
    """A chain of ``n_blocks`` canonical blocks drawing events from
    ``families``. After about every ``REORG_EVERY``-th block an
    invalidate marker rolls back the last 1-3 blocks, which are then
    replayed with fresh content."""
    g = _Gen(seed)
    chain = Chain(seed, g.tokens, g.all_pools)
    b = 1
    while b <= n_blocks:
        chain.messages.append(("block", b, g.block(b, events_per_block, families)))
        if b > 3 and b < n_blocks and g.rng.random() < 1 / REORG_EVERY:
            depth = g.rng.randint(1, 3)
            chain.messages.append(("invalidate", b - depth))
            b -= depth
        b += 1
    return chain


# ---------------------------------------------------------------------------
# Feed encoding
# ---------------------------------------------------------------------------


def feed_rows(message: tuple) -> dict[str, list]:
    """One feed message -> column lists in FEED_SCHEMA order."""
    cols: dict[str, list] = {f.name: [] for f in FEED_SCHEMA}
    if message[0] == "invalidate":
        for name, v in zip(
            cols, (message[1], None, None, 0, 0, None, None, ["invalidate"], [], None)
        ):
            cols[name].append(v)
        return cols
    _, number, events = message
    t = GENESIS + datetime.timedelta(seconds=number * BLOCK_SECONDS)
    for e in events:
        row = (
            number,
            hex(number * 7919),
            t,
            e.tx,
            0,
            hex(number * 100_000 + e.tx),
            hex(e.emitter),
            [EVENT_SELECTORS[e.family]],
            encode(D.EVENT_PARSERS[e.family], e.value),
            "accepted",
        )
        for name, v in zip(cols, row):
            cols[name].append(v)
    return cols


def write_canonical(chain: Chain, feed_dir: str, blocks=None, families=None) -> int:
    """Write the surviving fork (only ``blocks``, a range of block
    numbers, and the events of ``families``, when given) as a batch
    feed; returns files written."""
    os.makedirs(feed_dir, exist_ok=True)
    canon = sorted(
        (b, evs)
        for b, evs in chain.canonical(families).items()
        if blocks is None or b in blocks
    )
    n = 0
    for i in range(0, len(canon), BLOCKS_PER_FILE):
        cols: dict[str, list] = {f.name: [] for f in FEED_SCHEMA}
        for number, events in canon[i : i + BLOCKS_PER_FILE]:
            for k, v in feed_rows(("block", number, events)).items():
                cols[k] += v
        pq.write_table(
            pa.table(cols, schema=FEED_SCHEMA), os.path.join(feed_dir, f"part-{n:05d}.parquet")
        )
        n += 1
    return n
