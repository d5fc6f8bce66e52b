import stargen as sg


def test_same_seed_gives_identical_tables():
    a, b = sg.generate(5), sg.generate(5)
    assert list(a) == list(sg.TABLES)
    for name in sg.TABLES:
        assert a[name].to_csv(index=False) == b[name].to_csv(index=False), name


def test_other_seed_gives_other_tables():
    assert sg.generate(5)["lineitem"].equals(sg.generate(6)["lineitem"]) is False


def test_tables_hold_the_gate_data_shapes():
    t = sg.generate(1)
    assert len(t["lineitem"]) == 60_000 and len(t["orders"]) == 15_000
    assert t["lineitem"]["l_orderkey"].max() < len(t["orders"])
    docs = t["documents"]
    assert (docs["text"].str.len() == docs["n_chars"]).all()
    assert docs["text"].str.endswith(" dup").sum() > 0  # near-duplicates exist
