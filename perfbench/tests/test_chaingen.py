import hashlib

import numpy as np

import chaingen as cg


def _digest(chain: cg.Chain) -> str:
    h = hashlib.sha256()
    for name, df in sorted(chain.frames().items()):
        h.update(name.encode())
        h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def _chain(seed: int) -> tuple[cg.Chain, list[cg.Step]]:
    chain = cg.Chain(cg.World(7))
    rng = np.random.default_rng(seed)
    steps = [chain.extend(rng, 10), chain.extend(rng, 10)]
    steps.append(chain.fork(rng, cg.fork_depth(rng)))
    return chain, steps


def test_same_seed_gives_byte_identical_inputs():
    a, sa = _chain(3)
    b, sb = _chain(3)
    assert _digest(a) == _digest(b)
    assert [s.incoming for s in sa] == [s.incoming for s in sb]


def test_other_seed_gives_other_inputs():
    assert _digest(_chain(3)[0]) != _digest(_chain(4)[0])


def test_fork_replaces_depth_blocks_with_one_batch():
    chain, steps = _chain(5)
    fork = steps[-1]
    old_head = len(steps[-2].canonical)
    assert cg.FORK_DEPTH[0] <= fork.depth <= cg.FORK_DEPTH[1]
    assert len(fork.canonical) == old_head - fork.depth + cg.BATCH_BLOCKS
    assert fork.canonical[: old_head - fork.depth] == steps[-2].canonical[: old_head - fork.depth]
    # only the blocks above the old head are handed over; their first parent
    # is a branch block the indexer must fetch from the source
    assert fork.incoming[0]["number"] == old_head + 1
    assert fork.incoming[0]["parent_hash"] not in steps[-2].canonical
    assert fork.incoming[0]["parent_hash"] in chain.blocks


def test_ledger_balances_follow_the_canonical_branch():
    chain, steps = _chain(6)
    stamp = 10
    before = cg.Ledger(chain, steps[1].canonical, stamp)
    after = cg.Ledger(chain, steps[2].canonical, stamp)
    # every subscribed key has an opening row at the stamp block
    assert len(before.balances_at_head()) == len(chain.world.subscribed) * (1 + cg.N_TOKENS)
    # group totals are the sums of their members' balances
    for ledger in (before, after):
        for (token, group), total in ledger.totals_at_head().items():
            members = [a for a, g in chain.world.groups.items() if g == group]
            assert total == sum(ledger.balance_at(token, a, ledger.head) for a in members)
    # no answers exist before the subscriptions were stamped
    assert before.balance_at(cg.ETH, chain.world.subscribed[0], stamp - 1) is None
