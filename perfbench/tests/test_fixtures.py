import pyarrow as pa

from perfbench import fixtures


def test_tables_are_a_function_of_the_seed():
    a = fixtures.build_tables(5, 0.001)
    b = fixtures.build_tables(5, 0.001)
    c = fixtures.build_tables(6, 0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_schemas_and_sizes():
    t = fixtures.build_tables(1, 0.01)
    assert set(t) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert t["lineitem"].num_rows == 60_000
    assert t["orders"].num_rows == 15_000
    assert t["events"].schema.field("ts").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    ev = t["events"].to_pydict()
    assert ev["ts"] == sorted(ev["ts"])
    docs = t["documents"].to_pydict()
    assert any(x.endswith(" dup") for x in docs["text"])
    assert docs["n_chars"] == [len(x) for x in docs["text"]]


def test_fixture_dir_names_seed_scale_and_source_hash():
    a = fixtures.fixture_dir("state", 42, 0.01)
    assert a.startswith("state/fixtures-42-0.01-") and len(a.rsplit("-", 1)[1]) == 12
    assert a == fixtures.fixture_dir("state", 42, 0.01)
    assert a != fixtures.fixture_dir("state", 43, 0.01)
