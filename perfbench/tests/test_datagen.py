import pyarrow as pa

from perfbench import datagen


def test_same_seed_same_tables_other_seed_other_tables():
    a = datagen.tables(scale=0.001)
    b = datagen.tables(scale=0.001)
    c = datagen.tables(scale=0.001, seed=7)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_schema_and_sizes_follow_the_scale():
    t = datagen.tables(scale=0.001)
    assert t["lineitem"].num_rows == 6000 and t["orders"].num_rows == 1500
    assert t["region"].num_rows == 5 and t["nation"].num_rows == 25
    assert t["events"].schema.field("ts").type == pa.timestamp("us")
    assert t["nation"].schema.field("n_nationkey").type == pa.int32()
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    # foreign keys stay inside their dimension
    assert max(t["lineitem"]["l_orderkey"].to_pylist()) < t["orders"].num_rows
    assert max(t["orders"]["o_custkey"].to_pylist()) < t["customer"].num_rows
