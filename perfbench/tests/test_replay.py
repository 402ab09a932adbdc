"""The plain-Python MVCC replay that mvcc_mixed results are checked
against: positions, per-commit aggregates, txid snapshots, compaction."""

from workloads import Replay, _cents

ORDERS = {1: ("1-URGENT", 10.0), 2: ("1-URGENT", 20.5), 3: ("2-HIGH", 7.25)}
CUSTOMERS = {1: 100.0, 2: -5.0}


def test_commits_track_positions_and_aggregates():
    rp = Replay(ORDERS, CUSTOMERS)
    rp.upsert("orders", [1, 2, 3], 0.0)
    rp.commit(["orders"], "t1")
    assert rp.pos["orders"] == 1
    assert rp.at(1) == {"1-URGENT": (2, 3050), "2-HIGH": (1, 725)}
    assert rp.at(0) == {}  # the load is not committed at its own position

    rp.upsert("orders", [3], 1.25)
    assert rp.delete_where(bucket=0, modulus=2, own_writes=False) == 1  # id 2
    rp.commit(["orders"], "t2")
    assert rp.pos["orders"] == 4
    assert rp.at(4) == {"1-URGENT": (1, 1000), "2-HIGH": (1, 850)}
    assert rp.at(3) == rp.at_txid("t1")
    assert rp.txids == ["t1", "t2"]


def test_own_writes_and_empty_groups():
    rp = Replay(ORDERS, CUSTOMERS)
    rp.upsert("orders", [1, 2], 0.0)
    rp.commit(["orders"], "t1")
    rp.upsert("orders", [3], 0.0)
    rp.upsert("customer", [2], 1.0)
    # a Storage transaction sees its own pending upsert of id 3
    assert rp.delete_where(bucket=1, modulus=2, own_writes=True) == 2  # ids 1, 3
    rp.commit(["orders", "customer"], "t2")
    assert rp.at_txid("t2") == {"1-URGENT": (1, _cents(20.5))}  # 2-HIGH emptied
    assert rp.cust == {1: 100.0, 2: -4.0}
    assert rp.pos == {"orders": 4, "customer": 2}


def test_compaction_resets_txid_snapshots():
    rp = Replay(ORDERS, CUSTOMERS)
    rp.upsert("orders", [1], 0.0)
    rp.commit(["orders"], "t1")
    rp.compacted(None)  # a segment merge: positions unchanged
    assert rp.txids == [] and rp.pos["orders"] == 1
    rp.upsert("orders", [2], 0.0)
    rp.commit(["orders"], "t2")
    rp.compacted(9)  # a whole-log rewrite moves the log
    assert rp.pos["orders"] == 9 and rp.txids == []
    assert rp.at(9) == rp.at_txid("t2") == {"1-URGENT": (2, 3050)}
