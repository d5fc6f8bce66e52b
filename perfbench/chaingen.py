"""Seeded, mainnet-shaped synthetic chain and the independent ledger that
checks the indexer's answers.

Nothing here imports Spark or the indexer: the system under test receives
only the pandas frames :meth:`Chain.frames` builds (through
``PandasBlockSource``) and the header dicts of each step. The same seed
always yields byte-identical frames.

Where each parameter comes from. Two are taken from public chain
statistics (approximate figures read off Etherscan's charts, not measured
for this benchmark); the rest are arbitrary: they were set so that every
code path of the indexer runs, not fitted to any measurement.

- ``TXS_PER_BLOCK`` 100 (±20 % per block). Source: Etherscan's daily
  transactions chart (etherscan.io/chart/tx) shows about 1.0-1.2 million
  transactions a day in 2023-24, over ~7 200 blocks a day, i.e. ~150 per
  block. The benchmark uses the lower 100 to fit its run budget; per-batch
  cost is dominated by fixed Spark overhead, so the figures move little.
- ``UNCLE_RATE`` 0.06 of blocks carry one uncle, one in ten of those a
  second. Source: Etherscan's uncle count chart (etherscan.io/chart/uncles)
  shows roughly 5-8 % of blocks with an uncle in the last proof-of-work
  years (2020-22). The share with two uncles is arbitrary.
- ``N_ADDRESSES`` 20 000 with Zipf exponent ``ZIPF_S`` 1.1: arbitrary. A
  heavy tail (few very active addresses, most rarely seen) is the shape of
  mainnet activity; the exponent was not fitted.
- ``ZERO_VALUE_SHARE`` 0.45 (contract calls that move no ether but pay
  fees) and ``ERC20_SHARE`` 0.35 (transactions with a Transfer log, one in
  ten for an unregistered token the indexer must ignore): arbitrary; set so
  both the fee-only and the token paths carry a large share of rows.
- ``SUBSCRIBED_SHARE`` 0.05 of addresses, over ``N_GROUPS`` 8 groups:
  arbitrary. All start unstamped, so the first batch opens their balances.
- ``N_MINERS`` 16 coinbases (Zipf), a third of them subscribed: arbitrary;
  makes the reward columns of ``total_balances`` carry data.
- ``FORK_DEPTH`` uniform over [2, 24]: arbitrary, and much deeper than
  mainnet, where almost every reorg was one or two blocks. Deep forks make
  the walk-back, retract and replay do measurable work; every depth stays
  below the 50-block micro-batch, so the replayed branch is always exactly
  one micro-batch long.
"""

from __future__ import annotations

import bisect
import hashlib
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd

ETH = "0000000000000000000000000000000000455448"
MINER_FROM = "00000000000000004d494e455220524557415244"
UNCLE_FROM = "0000000000000000554e434c4520524557415244"
TRANSFER_SIG = "ddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
BASE_REWARD = 5 * 10**18  # every generated block is pre-Byzantium

BATCH_BLOCKS = 50  # the indexer's maxBlocksToInsert
TXS_PER_BLOCK = 100
N_ADDRESSES = 20_000
ZIPF_S = 1.1
ZERO_VALUE_SHARE = 0.45
ERC20_SHARE = 0.35
UNREGISTERED_SHARE = 0.1
N_TOKENS = 4
SUBSCRIBED_SHARE = 0.05
N_GROUPS = 8
N_MINERS = 16
UNCLE_RATE = 0.06
FORK_DEPTH = (2, 24)
CREATED_AT = datetime(2024, 1, 1)


def _addr(i: int) -> str:
    return hashlib.sha1(f"addr{i}".encode()).hexdigest()


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class World:
    """Seed-fixed universe shared by every chain built on it: addresses and
    their activity ranks, miners, tokens and the subscription set."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        self.addresses = [_addr(i) for i in rng.permutation(N_ADDRESSES)]
        self.addr_p = _zipf_p(N_ADDRESSES, ZIPF_S)
        self.miners = [_addr(N_ADDRESSES + i) for i in range(N_MINERS)]
        self.miner_p = _zipf_p(N_MINERS, ZIPF_S)
        self.tokens = [_addr(2 * N_ADDRESSES + i) for i in range(N_TOKENS)]
        self.unregistered = _addr(3 * N_ADDRESSES)
        n_subs = int(N_ADDRESSES * SUBSCRIBED_SHARE)
        picked = rng.choice(N_ADDRESSES, n_subs, replace=False)
        subscribed = [self.addresses[i] for i in sorted(picked)]
        subscribed += self.miners[::3]
        self.groups = {a: i % N_GROUPS for i, a in enumerate(subscribed)}

    @property
    def subscribed(self) -> list[str]:
        return list(self.groups)

    def subscriptions(self) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {"id": i, "block_number": 0, "group": g, "address": a,
                 "created_at": CREATED_AT, "updated_at": CREATED_AT}
                for i, (a, g) in enumerate(self.groups.items())
            ]
        )

    def erc20(self) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {"address": t, "block_number": 0, "total_supply": str(10**27),
                 "decimals": 18, "name": f"Token{i}"}
                for i, t in enumerate(self.tokens)
            ]
        )


@dataclass
class Block:
    header: dict
    txs: list[dict] = field(default_factory=list)
    receipts: list[dict] = field(default_factory=list)
    logs: list[dict] = field(default_factory=list)


@dataclass
class Step:
    """One micro-batch handed to ``process_headers``."""

    kind: str  # "normal" | "fork"
    incoming: list[dict]
    depth: int  # blocks retracted (0 for a normal batch)
    canonical: list[str]  # canonical block hashes by height after the step


class Chain:
    """Every block ever produced (orphans included) plus the canonical
    branch. Blocks get globally unique hashes, so fork branches never
    collide with the blocks they replace."""

    def __init__(self, world: World):
        self.world = world
        self.blocks: dict[str, Block] = {}
        self.canonical: list[str] = []  # index = number - 1
        self._serial = 0

    # -- generation ----------------------------------------------------------

    def _make_block(self, rng: np.random.Generator, number: int, parent: str) -> Block:
        w = self.world
        self._serial += 1
        bh = f"{self._serial:016x}{number:048x}"
        n = int(rng.integers(int(TXS_PER_BLOCK * 0.8), int(TXS_PER_BLOCK * 1.2) + 1))
        frm = rng.choice(N_ADDRESSES, n, p=w.addr_p)
        to = rng.choice(N_ADDRESSES, n, p=w.addr_p)
        to = np.where(to == frm, (to + 1) % N_ADDRESSES, to)
        zero = rng.random(n) < ZERO_VALUE_SHARE
        amount = 10 ** rng.uniform(14, 20, n)  # wei; above int64 range
        gas_price = (10 ** rng.uniform(9, 11, n)).astype(np.int64)
        has_log = rng.random(n) < ERC20_SHARE
        gas_used = np.where(
            zero | has_log, rng.integers(30_000, 250_000, n), 21_000
        )
        tok = rng.integers(0, N_TOKENS, n)
        unreg = rng.random(n) < UNREGISTERED_SHARE
        lfrom = rng.choice(N_ADDRESSES, n, p=w.addr_p)
        lto = rng.choice(N_ADDRESSES, n, p=w.addr_p)
        lval = 10 ** rng.uniform(15, 24, n)

        blk = Block(header={})
        cum = 0
        for i in range(n):
            th = f"{self._serial:016x}{i:048x}"
            blk.txs.append({
                "hash": th, "block_hash": bh,
                "from": w.addresses[frm[i]], "to": w.addresses[to[i]],
                "nonce": i, "gas_price": int(gas_price[i]),
                "gas_limit": int(gas_used[i]) * 2,
                "amount": "0" if zero[i] else str(int(amount[i])),
                "payload": b"", "block_number": number,
            })
            cum += int(gas_used[i])
            blk.receipts.append({
                "root": "55" * 32, "status": 1, "cumulative_gas_used": cum,
                "bloom": b"\x00" * 8, "tx_hash": th, "contract_address": None,
                "gas_used": int(gas_used[i]), "block_number": number,
            })
            if has_log[i]:
                blk.logs.append({
                    "tx_hash": th, "block_number": number,
                    "contract_address": w.unregistered if unreg[i] else w.tokens[tok[i]],
                    "event_name": TRANSFER_SIG,
                    "topic1": w.addresses[lfrom[i]].rjust(64, "0"),
                    "topic2": w.addresses[lto[i]].rjust(64, "0"),
                    "topic3": None,
                    "data": int(lval[i]).to_bytes(32, "big"),
                    "log_index": 0,
                })
        uncles: list[tuple[str, str, int]] = []
        if number > 2 and rng.random() < UNCLE_RATE:
            k = 2 if rng.random() < 0.1 else 1
            for j in range(k):
                miner = w.miners[rng.choice(N_MINERS, p=w.miner_p)]
                uncles.append((f"{self._serial:016x}{j + 1:048x}"[::-1], miner, number - 1 - j))
        u = uncles + [None, None]
        blk.header = {
            "hash": bh, "parent_hash": parent, "uncle_hash": "00" * 32,
            "coinbase": w.miners[rng.choice(N_MINERS, p=w.miner_p)],
            "root": "11" * 32, "tx_hash": "22" * 32, "receipt_hash": "33" * 32,
            "difficulty": int(rng.integers(2 * 10**15, 3 * 10**15)),
            "number": number, "gas_limit": 30_000_000, "gas_used": cum,
            "time": 1_700_000_000 + 12 * number, "extra_data": b"",
            "mix_digest": "44" * 32, "nonce": f"{number:016x}",
            "uncle1_hash": u[0][0] if u[0] else "",
            "uncle1_coinbase": u[0][1] if u[0] else "",
            "uncle1_number": u[0][2] if u[0] else None,
            "uncle2_hash": u[1][0] if u[1] else "",
            "uncle2_coinbase": u[1][1] if u[1] else "",
            "uncle2_number": u[1][2] if u[1] else None,
            "created_at": CREATED_AT,
        }
        self.blocks[bh] = blk
        return blk

    def _grow(self, rng: np.random.Generator, count: int) -> list[dict]:
        out = []
        for _ in range(count):
            parent = self.canonical[-1] if self.canonical else "00" * 32
            blk = self._make_block(rng, len(self.canonical) + 1, parent)
            self.canonical.append(blk.header["hash"])
            out.append(blk.header)
        return out

    def extend(self, rng: np.random.Generator, count: int = BATCH_BLOCKS) -> Step:
        """A clean extension of the canonical tip."""
        return Step("normal", self._grow(rng, count), 0, list(self.canonical))

    def fork(self, rng: np.random.Generator, depth: int) -> Step:
        """A winning fork: the last ``depth`` canonical blocks are orphaned
        and replaced by a ``BATCH_BLOCKS``-long branch from the block below
        them. Only the branch blocks above the old head are handed over, so
        the indexer walks back ``depth`` parents through the source."""
        old_head = len(self.canonical)
        del self.canonical[old_head - depth:]
        branch = self._grow(rng, BATCH_BLOCKS)
        return Step("fork", branch[depth:], depth, list(self.canonical))

    # -- frames for the block source --------------------------------------------

    def frames(self, hashes=None) -> dict[str, pd.DataFrame]:
        """Raw tables of every block, or of the blocks in ``hashes``."""
        blocks = [b for h, b in self.blocks.items() if hashes is None or h in hashes]
        return {
            "headers": pd.DataFrame([b.header for b in blocks]),
            "transactions": pd.DataFrame([t for b in blocks for t in b.txs]),
            "receipts": pd.DataFrame([r for b in blocks for r in b.receipts]),
            "logs": pd.DataFrame([lg for b in blocks for lg in b.logs]),
        }


def fork_depth(rng: np.random.Generator) -> int:
    return int(rng.integers(FORK_DEPTH[0], FORK_DEPTH[1] + 1))


# ---------------------------------------------------------------------------
# Independent ledger (plain Python ints; the fee and reward rules of the
# reference indexer, without Spark)
# ---------------------------------------------------------------------------


class Ledger:
    """Balances implied by a canonical branch, for subscribed addresses and
    their groups. Subscriptions are stamped at ``stamp`` (the head of the
    first ingested batch), so as-of answers exist from that block on."""

    def __init__(self, chain: Chain, canonical: list[str], stamp: int):
        w = chain.world
        self.stamp = stamp
        self.canonical = canonical
        self.tokens = [ETH] + w.tokens
        registered = set(w.tokens)
        groups = w.groups
        bal: dict[tuple[str, str], int] = {}
        gtot: dict[tuple[str, int], int] = {}
        self._bal: dict[tuple[str, str], tuple[list[int], list[int]]] = {}
        self._tot: dict[tuple[str, int], tuple[list[int], list[int]]] = {}

        def record(hist, key, number, value):
            blocks, values = hist.setdefault(key, ([], []))
            if blocks and blocks[-1] == number:
                values[-1] = value
            else:
                blocks.append(number)
                values.append(value)

        for number, bh in enumerate(canonical, start=1):
            blk = chain.blocks[bh]
            h = blk.header
            deltas: dict[tuple[str, str], int] = {}

            def move(token, frm, to, v):
                deltas[(token, to)] = deltas.get((token, to), 0) + v
                if frm is not None:
                    deltas[(token, frm)] = deltas.get((token, frm), 0) - v

            fees = 0
            gas = {r["tx_hash"]: r["gas_used"] for r in blk.receipts}
            for t in blk.txs:
                fee = t["gas_price"] * gas[t["hash"]]
                fees += fee
                move(ETH, None, t["from"], -fee)
                if t["amount"] != "0":
                    move(ETH, t["from"], t["to"], int(t["amount"]))
            for lg in blk.logs:
                if lg["contract_address"] in registered and lg["event_name"] == TRANSFER_SIG:
                    move(
                        lg["contract_address"], lg["topic1"][-40:],
                        lg["topic2"][-40:], int.from_bytes(lg["data"], "big"),
                    )
            uncles = [
                (h[f"uncle{i}_coinbase"], h[f"uncle{i}_number"])
                for i in (1, 2) if h[f"uncle{i}_hash"]
            ]
            move(ETH, None, h["coinbase"], fees + BASE_REWARD + len(uncles) * BASE_REWARD // 32)
            for cb, un in uncles:
                move(ETH, None, cb, (8 + un - number) * BASE_REWARD // 8)

            for (token, a), d in deltas.items():
                if a not in groups:
                    continue
                bal[(token, a)] = bal.get((token, a), 0) + d
                gk = (token, groups[a])
                gtot[gk] = gtot.get(gk, 0) + d
                if number > stamp:
                    record(self._bal, (token, a), number, bal[(token, a)])
                    record(self._tot, gk, number, gtot[gk])
            if number == stamp:  # opening rows: every subscribed key
                for token in self.tokens:
                    for a, g in groups.items():
                        record(self._bal, (token, a), number, bal.get((token, a), 0))
                    for g in range(N_GROUPS):
                        record(self._tot, (token, g), number, gtot.get((token, g), 0))
        self.head = len(canonical)

    @staticmethod
    def _asof(hist, key, n: int) -> int | None:
        blocks, values = hist.get(key, ([], []))
        i = bisect.bisect_right(blocks, n)
        return values[i - 1] if i else None

    def balance_at(self, token: str, address: str, n: int) -> int | None:
        """Balance as-of block ``n``; None where the indexer holds no row."""
        return self._asof(self._bal, (token, address), n)

    def total_at(self, token: str, group: int, n: int) -> int:
        return self._asof(self._tot, (token, group), n) or 0

    def balances_at_head(self) -> dict[tuple[str, str], int]:
        return {k: v[-1] for k, (_, v) in self._bal.items()}

    def totals_at_head(self) -> dict[tuple[str, int], int]:
        return {k: v[-1] for k, (_, v) in self._tot.items()}
