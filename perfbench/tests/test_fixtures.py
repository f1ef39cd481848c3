from fixtures import build_tables


def test_fixture_tables_are_byte_identical_for_a_seed():
    a, b = build_tables(0.001, seed=5), build_tables(0.001, seed=5)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not build_tables(0.001, seed=6)["documents"].equals(a["documents"])
