"""Chain-reorganization detection (SURVEY §2.9 "late data / fork handling").

Re-expresses service/indexer/indexer.go:331-440 (``addBlockMaybeReorg``):
when an incoming header does not extend the local head, walk back through the
new branch's parent hashes until a block whose parent matches a stored
header; if the new branch's total difficulty beats the stored head's, emit a
retraction decision — delete everything derived in [fork+1, old_head] and
replay the new branch — plus a ``reorgs`` audit row
(store/reorg/reorg.go, model/types.go:257-263). A losing fork is ignored.

This is deliberately driver-side logic over point lookups, exactly like the
reference: the walk touches O(reorg depth) headers (single-digit on real
chains), while the *retraction* — the data-heavy part — rides in the first
replay chunk's commit
(:meth:`~eth_indexer_spark.sinks.logstore.LogStore.write_blocks` with
``through``): it drops the files inside the range and rewrites only the
boundary files' survivors, as distributed jobs.
Headers are ~200 bytes; collecting a 50-block micro-batch of them to the
driver is free at any cluster scale.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

Header = dict  # {"number", "hash", "parent_hash", "difficulty", ...}


@dataclass
class ReorgDecision:
    # "bootstrap" | "append" | "gap" | "ignore_duplicate" | "ignore_losing_fork"
    # | "ignore_untraceable" | "reorg"
    action: str
    # blocks to ingest (new-branch headers, ascending) — append/reorg/bootstrap
    replay: list[Header] = field(default_factory=list)
    # retraction range on the OLD branch (inclusive) — reorg only
    retract_from: int | None = None
    retract_to: int | None = None
    # audit row for the `reorgs` table — reorg only
    reorg_row: dict | None = None
    # missing range to backfill before this batch applies — gap only
    gap: tuple[int, int] | None = None


def check_reorg(
    stored: dict[int, Header],
    incoming: list[Header],
    fetch_header_by_hash: Callable[[str], Header | None],
    td_at: Callable[[int], int],
) -> ReorgDecision:
    """Decide what an incoming (ascending, contiguous) header run means
    relative to the stored chain.

    ``stored``: recent stored headers keyed by number (the lookup window —
    callers read the last K blocks from the store; K bounds detectable reorg
    depth exactly as the reference's DB lookups do).
    ``td_at``: stored total difficulty at a block number (for the fork race).
    """
    if not incoming:
        return ReorgDecision("ignore_duplicate")
    if not stored:
        return ReorgDecision("bootstrap", replay=list(incoming))

    head_n = max(stored)
    head = stored[head_n]

    # drop the prefix already present verbatim (old/duplicate headers:
    # indexer.go:141-144,334-337)
    fresh = [
        h for h in incoming
        if not (h["number"] in stored and stored[h["number"]]["hash"] == h["hash"])
    ]
    if not fresh:
        return ReorgDecision("ignore_duplicate")
    first = fresh[0]

    # clean extension of the head
    if first["number"] == head_n + 1 and first["parent_hash"] == head["hash"]:
        return ReorgDecision("append", replay=fresh)

    # future blocks beyond head+1: the gap must be backfilled first
    # (indexer.go:218-246 syncs it in ≤50-block chunks)
    if first["number"] > head_n + 1:
        return ReorgDecision("gap", replay=fresh, gap=(head_n + 1, first["number"] - 1))

    # same-height-or-below with a different hash: candidate fork. Walk the
    # new branch's parents back to a stored ancestor (indexer.go:374-405).
    branch = list(fresh)
    while True:
        lo = branch[0]
        anchor = stored.get(lo["number"] - 1)
        if anchor is not None and anchor["hash"] == lo["parent_hash"]:
            break  # fork point = anchor
        parent = fetch_header_by_hash(lo["parent_hash"])
        if parent is None:
            return ReorgDecision("ignore_untraceable")
        branch.insert(0, parent)

    fork_n = branch[0]["number"] - 1  # last common block

    # fork race: total difficulty decides (indexer.go:349-372)
    new_td = td_at(fork_n) + sum(int(h["difficulty"]) for h in branch)
    old_td = td_at(head_n)
    if new_td <= old_td:
        return ReorgDecision("ignore_losing_fork")

    lose_from = int(fork_n) + 1
    return ReorgDecision(
        "reorg",
        replay=branch,
        retract_from=lose_from,
        retract_to=int(head_n),
        reorg_row={
            "from": lose_from,
            "from_hash": str(stored[lose_from]["hash"]) if lose_from in stored else "",
            "to": int(head_n),
            "to_hash": str(head["hash"]),
        },
    )
