"""The benchmark's three workloads, each a closed loop with one client.

- ``olap_read``: registry queries over the relational tables plus a
  full-row ``lineitem`` fetch; no writes, no text work.
- ``llm_pipeline``: the text and vector registry queries over
  ``documents`` and ``embeddings``; bypasses the MVCC table.
- ``mvcc_mixed``: transactions, snapshot reads, time travel, view
  refresh and maintenance on an MVCC store (see ``MvccWorkload``).

Every op is timed as the user pays it. A query op is build + execute
+ fetch: the registry builder runs inside the timed region, so eager
jobs it launches are paid, and no op re-executes a plan built earlier.
Results are checked outside the timed region.
"""

from __future__ import annotations

import math
import os
import pickle
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

import check

OLAP_KEYS = ("table_scan", "filter", "condition_dsl", "pricing_summary",
             "hash_match", "multi_join", "sort", "shipping_priority")
LLM_KEYS = ("dedup_exact", "minhash_lsh_pairs", "dedup_clusters",
            "jaccard_join", "winnow_spans", "curate_corpus", "semantic_dedup",
            "l2_topk", "ivf_topk", "bm25_topk")
LINEITEM_FETCH = "lineitem_fetch"


@dataclass
class Op:
    kind: str
    name: str
    seconds: float
    ok: bool = True
    rows_written: int = 0
    span: int | None = None
    attrs: dict = field(default_factory=dict)


class Recorder:
    """Times ops; in a traced window each op is the root span of the
    spans its calls open, and its Spark work is attributed to them."""

    def __init__(self, tracer=None):
        self.ops: list[Op] = []
        self.tracer = tracer
        self.busy = 0.0

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer)

    def time(self, kind: str, name: str, fn):
        """Run ``fn`` as one op; returns (op, fn's result). An exception
        marks the op failed and is recorded in ``op.attrs['error']``."""
        tr = self.tracer
        op = Op(kind, name, 0.0)
        out = None
        first_span = len(tr.spans) if tr is not None else 0
        if tr is not None:
            tr.op = len(self.ops)
        t0 = time.perf_counter()
        try:
            with self.span(name, "op") as root:
                out = fn(op)
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            op.ok = False
            op.attrs["error"] = f"{type(e).__name__}: {e}"[:500]
        op.seconds = time.perf_counter() - t0
        if tr is not None:
            tr.op = None
            op.span = root.sid
            spans = tr.spans[first_span:]
            stats = tr.job_stats(spans)
            for s in spans:
                s.attrs["jobs"] = stats[s.sid]
        self.ops.append(op)
        self.busy += op.seconds
        return op, out

    def fail(self, op: Op, reason: str) -> None:
        op.ok = False
        op.attrs.setdefault("error", reason[:500])


def _corrupt(result):
    """Deliberately wrong copy of a result (tests of the checks)."""
    if hasattr(result, "num_rows"):
        return result.slice(0, max(0, result.num_rows - 1))
    return list(result)[:-1] if result else [("corrupted",)]


class QueryWorkload:
    """Seeded shuffles of registry keys, repeated in whole passes."""

    #: Op time of the untimed warm-up passes: olap_read passes keep
    #: getting faster for about four passes (JIT), llm_pipeline's first
    #: pass alone takes longer than this.
    WARMUP_S = 8.0

    def __init__(self, keys, tables, spark, data_dir, seed, fetch_lineitem=False):
        import __spark_entry__ as entry

        self.spark = spark
        self.data_dir = data_dir
        self.tables = tables
        self.rng = random.Random(seed)
        builders, oracles = entry.queries(), entry.oracle_sql()
        self.ops = {k: (builders[k], "collect") for k in keys}
        self.oracle_sql = {k: oracles[k] for k in keys}
        if fetch_lineitem:
            self.ops[LINEITEM_FETCH] = (_read_lineitem, "arrow")
        self.oracle = check.Oracle(data_dir, tables)
        self.expected: dict = {}
        self.corrupt_next = False

    def setup(self, _rep: int) -> None:
        """Open every input table, as a user does before querying."""
        from db_spark.sources import read_table

        for t in self.tables:
            read_table(self.spark, self.data_dir, t)

    def run(self, rec: Recorder, seconds: float, traced: bool = False) -> None:
        while True:
            order = sorted(self.ops)
            self.rng.shuffle(order)
            for key in order:
                self._op(rec, key, traced)
            if rec.busy >= seconds:
                return

    def warmup(self, rec: Recorder) -> None:
        """Untimed passes that compile and cache what the timed ones
        reuse (generated code, JIT); the first verifies each key."""
        self.run(rec, self.WARMUP_S)

    def _op(self, rec: Recorder, key: str, traced: bool) -> None:
        build, action = self.ops[key]
        spark, d = self.spark, self.data_dir
        holder = {}

        def body(op):
            with rec.span("build", "build"):
                df = build(spark, d)
            with rec.span("exec", "exec") as x:
                out = df.toArrow() if action == "arrow" else df.collect()
            if traced:
                op.attrs["action_s"] = x.duration
            holder["df"] = df
            return out

        op, result = rec.time("query", key, body)
        df = holder.get("df")
        if op.ok:
            if self.corrupt_next:
                self.corrupt_next = False
                result = _corrupt(result)
            reason = self._verify(key, df, result)
            if reason:
                rec.fail(op, reason)
            elif traced:
                self._layer_attrs(op, df, result, action)
        from db_spark.llm import dedup

        dedup.unpersist_plan_caches()
        spark.catalog.clearCache()

    def _layer_attrs(self, op, df, result, action) -> None:
        from db_spark.plans import plan_shape

        op.attrs["exchanges"] = plan_shape(df)["exchanges"]
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        op.attrs["noop_s"] = time.perf_counter() - t0
        if action == "arrow":
            op.attrs["fetch_rows"], op.attrs["fetch_bytes"] = result.num_rows, result.nbytes
        else:
            op.attrs["fetch_rows"] = len(result)
            op.attrs["fetch_bytes"] = len(pickle.dumps(result, protocol=4))

    def _verify(self, key, df, result) -> str | None:
        """First result of a key is checked against DuckDB; every later
        one against that verified result."""
        if key == LINEITEM_FETCH:
            first = key not in self.expected
            if first:
                self.expected[key] = self.oracle.arrow("SELECT * FROM lineitem")
            if not _same_rows(result, self.expected[key]):
                return f"lineitem fetch differs from the {'parquet file' if first else 'verified fetch'}"
            return None
        got = check.normalize(df.columns, [tuple(r) for r in result])
        if key not in self.expected:
            reason = check.diff(got, self.oracle.query(self.oracle_sql[key]))
            if reason:
                return f"oracle: {reason}"
            self.expected[key] = got
            return None
        reason = check.diff(got, self.expected[key])
        return f"verified result: {reason}" if reason else None

    def final_checks(self) -> list[str]:
        """Every result was checked as it arrived."""
        return []

    def close(self) -> None:
        self.oracle.close()


def _same_rows(got, want) -> bool:
    """Arrow tables with the same rows in any order; the in-order
    comparison is the cheap common case."""
    if got.num_rows != want.num_rows:
        return False
    got = got.cast(want.schema)
    if got.equals(want):
        return True
    keys = [(c, "ascending") for c in want.column_names]
    return got.sort_by(keys).equals(want.sort_by(keys))


def _read_lineitem(spark, d):
    from db_spark.sources import read_table

    return read_table(spark, d, "lineitem")


def olap_read(spark, data_dir, seed, work_dir):
    return QueryWorkload(
        OLAP_KEYS,
        ("region", "nation", "customer", "part", "orders", "lineitem"),
        spark, data_dir, seed, fetch_lineitem=True)


def llm_pipeline(spark, data_dir, seed, work_dir):
    return QueryWorkload(LLM_KEYS, ("documents", "embeddings"), spark, data_dir, seed)


# ---------------------------------------------------------------------------
# mvcc_mixed
# ---------------------------------------------------------------------------

def _cents(price: float) -> int:
    """``round(price * 100)`` as Spark's HALF_UP round computes it."""
    return int(Decimal(repr(price * 100)).quantize(Decimal(1), ROUND_HALF_UP))


class Replay:
    """Independent model of the op sequence in plain Python: committed
    state, this transaction's pending writes, and the log position of
    each collection (every write and marker appends one position).

    ``commits`` holds (log position, txid, aggregate) after every commit
    (txid None for a compaction); the aggregate is {priority: (rows, sum
    of price in cents)}, kept up to date row by row."""

    def __init__(self, orders: dict, customers: dict):
        self.base, self.cust_base = orders, customers
        self.state, self.cust = {}, dict(customers)
        self.agg: dict = {}
        self.pos = {"orders": -1, "customer": 0}
        self.commits: list = [(-1, None, {})]
        self.pending: list = []
        #: orders commits since its last compaction, whose txid snapshots
        #: are exactly the state after that commit
        self.txids: list[str] = []

    def upsert(self, coll: str, ids, delta: float) -> int:
        self.pos[coll] += 1
        base = self.base if coll == "orders" else self.cust_base
        if coll == "orders":
            rows = {i: (base[i][0], base[i][1] + delta) for i in ids}
        else:
            rows = {i: base[i] + delta for i in ids}
        self.pending.append((coll, "U", rows))
        return len(rows)

    def delete_where(self, bucket: int, modulus: int, own_writes: bool) -> int:
        """Tombstones for orders ids in ``bucket`` (id % modulus). The
        Collection path sees the committed snapshot; a Storage
        transaction also sees its own pending writes."""
        visible = dict(self.state)
        if own_writes:
            for coll, kind, rows in self.pending:
                if coll != "orders":
                    continue
                if kind == "U":
                    visible.update(rows)
                else:
                    for i in rows:
                        visible.pop(i, None)
        ids = [i for i in visible if i % modulus == bucket]
        self.pos["orders"] += 1
        self.pending.append(("orders", "D", ids))
        return len(ids)

    def _drop(self, i) -> None:
        old = self.state.pop(i, None)
        if old is not None:
            n, s = self.agg[old[0]]
            if n == 1:
                del self.agg[old[0]]
            else:
                self.agg[old[0]] = (n - 1, s - _cents(old[1]))

    def commit(self, colls, txid: str) -> None:
        for coll, kind, rows in self.pending:
            if coll == "customer":
                self.cust.update(rows)
                continue
            for i in rows:
                self._drop(i)
            if kind == "U":
                for i, (prio, price) in rows.items():
                    self.state[i] = (prio, price)
                    n, s = self.agg.get(prio, (0, 0))
                    self.agg[prio] = (n + 1, s + _cents(price))
        self.pending = []
        for coll in colls:
            self.pos[coll] += 1
        self.commits.append((self.pos["orders"], txid, dict(self.agg)))
        self.txids.append(txid)

    def at(self, position: int) -> dict:
        """Aggregate of the snapshot at a log position."""
        return max((c for c in self.commits if c[0] <= position),
                   key=lambda c: c[0])[2]

    def at_txid(self, txid: str) -> dict:
        """Aggregate of the snapshot at a txid in ``txids``."""
        return next(c[2] for c in self.commits if c[1] == txid)

    def compacted(self, position: int | None) -> None:
        """A compaction rewrote live rows with the nil txid, which every
        txid snapshot sees; a whole-log one also moved the log to
        ``position``."""
        self.txids = []
        if position is not None:
            self.pos["orders"] = position
            self.commits.append((position, None, dict(self.agg)))


class MvccWorkload:
    """An ``orders`` collection (one row per order) and a ``customer``
    collection in one MVCC store, with an incremental aggregate view
    over orders. Set-up loads orders in ``LOAD_BATCHES`` committed
    transactions of contiguous key ranges, so time travel has distinct
    earlier snapshots from the start. The loop runs pairs of cycles of

    1. a transaction through the Collection API (upsert a 1/M slice,
       ``delete_where`` on an id bucket, ``commit``), then reads, with
       time travel to the ``TXID_READS`` newest commit txids followed by
       one more latest snapshot read;
    2. ``Storage.maintain()``;
    3. a transaction through ``Storage.transaction()`` across both
       collections (its ``delete_where`` sees its own upsert), then
       reads, with ``scan_at_position`` time travel to
       ``POSITION_READS`` distinct earlier positions.

    The reads after each transaction are a view refresh and read, a
    latest snapshot read that misses the 4-entry snapshot LRU and the
    same read again (a hit). Four txid reads overflow the LRU: the
    last of them evicts the latest snapshot, so the latest read after
    them misses again (with fewer txids since the last compaction, it
    hits). ``scan_at_position`` is never cached. The store compacts at
    4% log redundancy and each transaction adds about 2%, so of a pair
    of cycles the first ``maintain()`` finds nothing to do and the
    second compacts.
    """

    SLICES = 50
    DELETE_MOD = 997
    REDUNDANCY = 0.04
    DELTAS = (0.25, 0.5, 1.25, -0.75)
    LOAD_BATCHES = 3
    TXID_READS = 4
    POSITION_READS = 2

    def __init__(self, spark, data_dir, seed, work_dir):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        o = pq.read_table(os.path.join(data_dir, "orders.parquet"))
        self._order_bytes = o.nbytes / max(1, o.num_rows)
        self.orders_base = dict(zip(
            o.column("o_orderkey").to_pylist(),
            zip(o.column("o_orderpriority").to_pylist(), o.column("o_totalprice").to_pylist())))
        c = pq.read_table(os.path.join(data_dir, "customer.parquet"),
                          columns=["c_custkey", "c_acctbal"])
        self.cust_base = dict(zip(c.column(0).to_pylist(), c.column(1).to_pylist()))
        self.root = None
        self.corrupt_next = False
        self.files: dict[str, int] = {}

    # -- set-up ---------------------------------------------------------
    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from db_spark.engine import Storage, StorageConfig
        from db_spark.matview import IncrementalAggView
        from db_spark.sources import read_table
        from db_spark.table import uuid7

        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work_dir, f"mvcc-{rep}")
        spark, d = self.spark, self.data_dir
        self.store = Storage(spark, os.path.join(self.root, "store"),
                             StorageConfig(compaction_redundancy_percentage=self.REDUNDANCY))
        self.orders_src = read_table(spark, d, "orders")
        self.cust_src = read_table(spark, d, "customer")
        self.orders = self.store.get_collection("orders")
        self.customer = self.store.get_collection("customer")
        self.replay = rp = Replay(self.orders_base, self.cust_base)
        keys = sorted(self.orders_base)
        bounds = [keys[len(keys) * b // self.LOAD_BATCHES] for b in range(self.LOAD_BATCHES)]
        for lo, hi in zip(bounds, bounds[1:] + [keys[-1] + 1]):
            tx = uuid7()
            rp.upsert("orders", [k for k in keys if lo <= k < hi], 0.0)
            batch = self.orders_src.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            self.orders.set_objects(tx, self._as_objects(batch, "o_orderkey"))
            self.orders.commit(tx)
            rp.commit(["orders"], tx)
        self.first_position = rp.pos["orders"]
        self.customer.set_objects(None, self._as_objects(self.cust_src, "c_custkey"))
        self.view = IncrementalAggView(self.orders, "o_orderpriority", "o_totalprice",
                                       os.path.join(self.root, "view"))
        self.view.refresh()
        self.files = self._log_files()
        self._F = F

    @staticmethod
    def _as_objects(df, key):
        from pyspark.sql import functions as F

        return df.withColumn("_id", F.col(key).cast("string")).drop(key)

    def _log_files(self) -> dict[str, int]:
        return _parquet_files(*(os.path.join(self.root, "store", c)
                                for c in ("orders", "customer")))

    def _new_bytes(self) -> int:
        now = self._log_files()
        added = sum(size for p, size in now.items() if p not in self.files)
        self.files = now
        return added

    # -- the loop -------------------------------------------------------
    def warmup(self, rec: Recorder) -> None:
        """None: the set-up already ran every code path once."""

    def run(self, rec: Recorder, seconds: float, traced: bool = False) -> None:
        self.txn = self.compactions = self.bytes_written = self.bytes_rewritten = 0
        self.user_bytes = 0.0
        while True:
            for _ in range(2):
                self._collection_txn(rec)
                self._reads(rec, self._txid_reads)
                self._maintain(rec)
                self._storage_txn(rec)
                self._reads(rec, self._position_reads)
            if rec.busy >= seconds:
                return

    def _slice(self, src, key: str, s: int, col: str, delta: float):
        F = self._F
        return self._as_objects(
            src.filter(F.col(key) % self.SLICES == s)
            .withColumn(col, F.col(col) + F.lit(delta)), key)

    def _write(self, rec, kind, name, fn, rows: int, user_bytes: float):
        op, out = rec.time(kind, name, lambda op: fn())
        op.rows_written = rows
        self.user_bytes += user_bytes
        self.bytes_written += self._new_bytes()
        if not op.ok:
            raise RuntimeError(f"{name} failed: {op.attrs['error']}")
        return op, out

    def _collection_txn(self, rec: Recorder) -> None:
        from db_spark.table import uuid7

        F, rp, coll = self._F, self.replay, self.orders
        s, delta = self.rng.randrange(self.SLICES), self.rng.choice(self.DELTAS)
        bucket = self.rng.randrange(self.DELETE_MOD)
        tx = uuid7()
        ids = [i for i in self.orders_base if i % self.SLICES == s]
        n = rp.upsert("orders", ids, delta)
        up = self._slice(self.orders_src, "o_orderkey", s, "o_totalprice", delta)
        ops = [self._write(rec, "write", "set_objects",
                           lambda: coll.set_objects(tx, up), n, n * self._order_bytes)[0]]
        n = rp.delete_where(bucket, self.DELETE_MOD, own_writes=False)
        cond = F.col("_id").cast("long") % self.DELETE_MOD == bucket
        ops.append(self._write(rec, "write", "delete_where",
                               lambda: coll.delete_where(tx, cond), n, n * 8)[0])
        rp.commit(["orders"], tx)
        ops.append(self._write(rec, "write", "commit", lambda: coll.commit(tx), 1, 1)[0])
        self._txn_done(ops, sum(o.seconds for o in ops))

    def _storage_txn(self, rec: Recorder) -> None:
        F, rp = self._F, self.replay
        s, delta = self.rng.randrange(self.SLICES), self.rng.choice(self.DELTAS)
        bucket = self.rng.randrange(self.DELETE_MOD)
        o_ids = [i for i in self.orders_base if i % self.SLICES == s]
        c_ids = [i for i in self.cust_base if i % self.SLICES == s]
        rows = rp.upsert("orders", o_ids, delta) + rp.upsert("customer", c_ids, delta)
        rows += rp.delete_where(bucket, self.DELETE_MOD, own_writes=True)
        up_o = self._slice(self.orders_src, "o_orderkey", s, "o_totalprice", delta)
        up_c = self._slice(self.cust_src, "c_custkey", s, "c_acctbal", delta)
        cond = F.col("_id").cast("long") % self.DELETE_MOD == bucket

        def block():
            with self.store.transaction() as t:
                t.set("orders", up_o)
                t.set("customer", up_c)
                t.delete_where("orders", cond)
            return t.txid

        op, txid = self._write(rec, "write", "transaction", block, rows,
                               len(o_ids) * self._order_bytes + len(c_ids) * 16)
        rp.commit(["orders", "customer"], txid)
        op.attrs["storage_txn"] = True
        self._txn_done([op], op.seconds)

    def _txn_done(self, ops, seconds: float) -> None:
        self.txn += 1
        ops[-1].attrs["txn_s"] = seconds

    def _maintain(self, rec: Recorder) -> None:
        before = self.orders.compaction_watermark()
        op, report = rec.time("maintain", "maintain", lambda op: self.store.maintain())
        if not op.ok:
            raise RuntimeError(f"maintain failed: {op.attrs['error']}")
        self.bytes_rewritten += self._new_bytes()
        self.compactions += sum(bool(r["compacted"]) for r in report.values())
        after = self.orders.compaction_watermark()
        moved = after != before and after > self.replay.pos["orders"]
        if moved or report["orders"]["compacted"]:
            self.replay.compacted(after if moved else None)

    def _agg(self, rec: Recorder, df) -> dict:
        F = self._F
        with rec.span("exec", "exec"):
            rows = df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
            ).collect()
        return {r["o_orderpriority"]: (r["n"], r["s"]) for r in rows}

    def _reads(self, rec: Recorder, time_travel) -> None:
        rp = self.replay
        self._check(rec, "refresh", "refresh", lambda op: self.view.refresh(),
                    lambda got: got == rp.pos["orders"] or f"position {got} != {rp.pos['orders']}")

        def view_rows(op):
            with rec.span("exec", "exec"):
                return self.view.read().collect()

        self._check(rec, "view_read", "view_read", view_rows,
                    lambda got: _view_matches(got, rp.at(rp.pos["orders"])))
        self._latest_read(rec, "read_latest")
        self._latest_read(rec, "read_latest_again")
        time_travel(rec)

    def _latest_read(self, rec: Recorder, name: str) -> None:
        # named by where the read falls in the cycle, which decides
        # whether the snapshot LRU can hold the latest snapshot
        rp = self.replay
        self._check(rec, "read", name, lambda op: self._agg(rec, self.orders.table_scan()),
                    lambda got: got == rp.at(rp.pos["orders"]) or "snapshot differs from replay")

    def _txid_reads(self, rec: Recorder) -> None:
        # the newest commits, so each read resolves a full-size snapshot
        # whatever the seed (the oldest ones are the partial loads)
        rp = self.replay
        for t in rp.txids[-self.TXID_READS:]:
            self._check(rec, "read", "table_scan_txid",
                        lambda op, t=t: self._agg(rec, self.orders.table_scan(t)),
                        lambda got, t=t: got == rp.at_txid(t) or f"txid {t} differs from replay")
        self._latest_read(rec, "read_latest_after_txids")

    def _position_reads(self, rec: Recorder) -> None:
        rp = self.replay
        lo = max(self.first_position, self.orders.compaction_watermark())
        earlier = range(lo, max(lo + 1, rp.pos["orders"]))
        for p in self.rng.sample(earlier, min(self.POSITION_READS, len(earlier))):
            self._check(rec, "read", "scan_at_position",
                        lambda op, p=p: self._agg(rec, self.orders.scan_at_position(p)),
                        lambda got, p=p: got == rp.at(p) or f"position {p} differs from replay")

    def _check(self, rec, kind, name, fn, verify) -> None:
        op, got = rec.time(kind, name, fn)
        if not op.ok:
            raise RuntimeError(f"{name} failed: {op.attrs['error']}")
        if self.corrupt_next:
            self.corrupt_next = False
            got = _corrupt(got) if isinstance(got, list) else {"corrupted": (0, 0)}
        res = verify(got)
        if res is not True:
            rec.fail(op, str(res))

    # -- end of run -----------------------------------------------------
    def final_checks(self) -> list[str]:
        """Log position and the customer collection against the replay."""
        F, rp, problems = self._F, self.replay, []
        pos = self.orders.log_position()
        if pos != rp.pos["orders"]:
            problems.append(f"orders log position {pos} != replay {rp.pos['orders']}")
        row = self.customer.table_scan().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("s")).collect()[0]
        want = (len(rp.cust), sum(_cents(v) for v in rp.cust.values()))
        if (row["n"], row["s"]) != want:
            problems.append(f"customer snapshot {(row['n'], row['s'])} != replay {want}")
        return problems

    def space(self) -> dict:
        """Log files and bytes of both collections, and the size of
        their live snapshots written once as plain parquet."""
        log = self._log_files()
        live = os.path.join(self.root, "live")
        for name, coll in (("orders", self.orders), ("customer", self.customer)):
            coll.table_scan().write.mode("overwrite").parquet(os.path.join(live, name))
        return {"log_files": len(log), "log_bytes": sum(log.values()),
                "live_bytes": sum(_parquet_files(live).values())}

    def close(self) -> None:
        pass


def _parquet_files(*dirs) -> dict[str, int]:
    """{path: size} of every parquet file under ``dirs``."""
    out = {}
    for d in dirs:
        for root, _d, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[p] = os.path.getsize(p)
    return out


def _view_matches(rows, want: dict):
    got = {r["o_orderpriority"]: r for r in rows}
    if set(got) != set(want):
        return f"view groups {sorted(got)} != {sorted(want)}"
    for g, (n, s) in want.items():
        r = got[g]
        avg = float(Decimal(repr(s / 100.0 / n)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        if r["n_rows"] != n or r["sum_value"] != s / 100.0 or not math.isclose(
                r["avg_value"], avg, abs_tol=1e-6):
            return f"view row {g}: {tuple(r)} != {(n, s / 100.0, avg)}"
    return True


WORKLOADS = {
    "olap_read": olap_read,
    "mvcc_mixed": MvccWorkload,
    "llm_pipeline": llm_pipeline,
}
