import numpy as np
import pandas as pd

import chaingen as cg
import workloads as wl

ETH = cg.ETH


def _setup():
    chain = cg.Chain(cg.World(9))
    rng = np.random.default_rng(1)
    steps = [chain.extend(rng, 10) for _ in range(3)]
    ledger = cg.Ledger(chain, steps[-1].canonical, 10)
    bench = wl.Bench(None, ".", ".", 1, 1, None)
    return chain, ledger, bench


def _answers(chain, ledger):
    """Correct answers for one call of each read op."""
    canon = ledger.canonical
    head = ledger.head
    addr = chain.world.subscribed[0]
    group = chain.world.groups[addr]
    total = ledger.total_at(ETH, group, 20)
    total_rows = [(20, total)] if total else []
    head_total = ledger.total_at(ETH, group, head)
    return [
        ("latest_header", (), [(head, canon[-1])]),
        ("header_by_number", (7,), [(7, canon[6])]),
        ("headers_in_range", (3, 6), [(n, canon[n - 1]) for n in range(3, 7)]),
        ("find_account", (ETH, addr, 20), [(20, ledger.balance_at(ETH, addr, 20))]),
        ("find_account", (ETH, addr, 5), []),
        ("find_total_balance", (20, ETH, group), total_rows),
        ("tip_read", (group,), ([(head, canon[-1])], [(head, head_total)] if head_total else [])),
    ]


def test_correct_answers_pass():
    chain, ledger, b = _setup()
    for op, args, ans in _answers(chain, ledger):
        wl.check_read(b, ledger, op, args, ans)
    assert b.attempted == 7 and b.failed == 0


def test_planted_wrong_answers_are_caught():
    chain, ledger, b = _setup()
    canon = ledger.canonical
    wrong = {
        "latest_header": [(ledger.head - 1, canon[-2])],
        "header_by_number": [(7, canon[7])],
        "headers_in_range": [(n, canon[n - 1]) for n in range(3, 6)],
        "find_total_balance": [(20, 12345)],
    }
    for op, args, ans in _answers(chain, ledger):
        if op == "find_account":
            ans = [(20, ans[0][1] + 1)] if ans else [(5, 0)]
        elif op == "tip_read":
            ans = (ans[0], [(ledger.head, 1)])
        else:
            ans = wrong[op]
        wl.check_read(b, ledger, op, args, ans)
    assert b.attempted == 7 and b.failed == 7


def test_analytics_check_catches_a_planted_wrong_answer():
    b = wl.Bench(None, ".", ".", 1, 1, None)
    right = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    want = wl.signature(right)
    # row order does not matter
    wl.check_answer(b, "same", wl.signature(right.iloc[::-1]), want)
    wl.check_answer(b, "value", wl.signature(right.assign(v=[0.5, 1.26])), want)
    wl.check_answer(b, "rows", wl.signature(right.iloc[:1]), want)
    # an empty oracle answer proves nothing
    empty = wl.signature(right.iloc[:0])
    wl.check_answer(b, "empty", empty, empty)
    assert (b.attempted, b.failed) == (4, 3)
