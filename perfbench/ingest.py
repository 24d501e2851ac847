"""The ``ingest`` workload: writes beside reads on the snapshot table format.

Set-up loads the generated ``orders`` table into a snapshot table
(the default copy-on-write delete mode: the incremental gold refresh
reads raw file changes and refuses tables with deletion vectors),
grows its commit log with ``SEED_COMMITS`` small appends, so that the
first timed cycle crosses the format's checkpoint cadence and later
reads replay a checkpoint plus a log tail, bootstraps a monthly gold
rollup over it and
starts a change-tolerant stream whose foreachBatch sink mirrors every
emitted row into a silver table. The timed loop then repeats a fixed
cycle of commits and reads whose batches a seeded generator derives
from ``orders``: an append, a MERGE, an UPDATE and a DELETE, each
followed by a point read and a range or ``VERSION AS OF`` read.

After every ``CATCHUP_EVERY`` commits an availableNow stream catch-up
runs, followed by an incremental refresh of the gold rollup; after
every ``MAINTAIN_EVERY`` commits the table is compacted and old
snapshots expire. Every op is logged; at the end the log is replayed in
DuckDB and every read, the final table and the gold rollup are compared
with the replay.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa

CATCHUP_EVERY = 4
MAINTAIN_EVERY = 4
BATCH_ROWS = 200
#: small appends in set-up: with the initial load they leave the log
#: two commits short of the checkpoint cadence (32 log entries), so the
#: first cycle's MERGE writes a checkpoint inside a timed op
SEED_COMMITS = 29
SEED_ROWS = 20
#: four commits, each followed by a point read and a range or
#: ``VERSION AS OF`` read
CYCLE = [
    "append", "point", "range", "merge", "point", "travel",
    "update", "point", "range", "delete", "point", "travel",
]
WRITES = {"append", "merge", "update", "delete"}

#: monthly gold rollup over orders: order count and exact revenue cents
GOLD_SPEC = {
    "group": {"year": "year(o_orderdate)", "month": "month(o_orderdate)"},
    "sums": {"cents": "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"},
    "count_col": "n_orders",
}
GOLD_SQL = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
           CAST(month(o_orderdate) AS BIGINT) AS month,
           CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM t GROUP BY 1, 2
"""
ORDERS_DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


class BatchGenerator:
    """Seeded op payloads over a live-key model of ``orders``.

    New keys start above the largest ``o_orderkey``; a MERGE updates
    live keys and inserts new ones; UPDATE and DELETE take key ranges.
    Every batch's keys are unique, which the MERGE cardinality rule
    requires."""

    def __init__(self, orders: pd.DataFrame, seed: int):
        self.rng = np.random.default_rng(seed)
        self.live = set(int(k) for k in orders["o_orderkey"])
        self.next_key = int(orders["o_orderkey"].max()) + 1
        self.n_cust = int(orders["o_custkey"].max()) + 1

    def _rows(self, keys: list[int]) -> pd.DataFrame:
        if len(set(keys)) != len(keys):
            raise ValueError("batch keys are not unique")
        n, rng = len(keys), self.rng
        return pd.DataFrame({
            "o_orderkey": np.array(keys, dtype=np.int64),
            "o_custkey": rng.integers(0, self.n_cust, n).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": np.datetime64("1995-01-01", "us")
            + rng.integers(0, 2404, n).astype("timedelta64[D]"),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        })

    def _new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        self.live.update(keys)
        return keys

    def _live_sample(self, n: int) -> list[int]:
        pool = sorted(self.live)
        idx = self.rng.choice(len(pool), size=min(n, len(pool)), replace=False)
        return [pool[i] for i in idx]

    def append(self, n: int = BATCH_ROWS) -> pd.DataFrame:
        return self._rows(self._new_keys(n))

    def merge(self) -> pd.DataFrame:
        old = self._live_sample(BATCH_ROWS // 2)
        return self._rows(old + self._new_keys(BATCH_ROWS // 2))

    def key_range(self, width: int) -> tuple[int, int]:
        lo = int(self.rng.integers(0, self.next_key - width))
        return lo, lo + width

    def delete(self) -> tuple[int, int]:
        lo, hi = self.key_range(50)
        self.live.difference_update(range(lo, hi))
        return lo, hi

    def point_key(self) -> int:
        return self._live_sample(1)[0]


def run(ctx) -> None:
    from e_commerce_lakehouse_spark.plans import ivm
    from e_commerce_lakehouse_spark.sources import snapshots, sql_dml
    from e_commerce_lakehouse_spark.streaming import sinks, table_source

    spark = ctx.spark
    work = ctx.scratch_dir
    orders_root = os.path.join(work, "orders")
    gold_root = os.path.join(work, "gold")
    silver_root = os.path.join(work, "silver")
    ckpt = os.path.join(work, "stream-ckpt")
    tables = {"orders": orders_root}
    log: list[dict] = []
    progress: list[dict] = []

    def catch_up(**start) -> None:
        q = (
            table_source.read_table_stream(
                spark, orders_root, ignoreChanges="true", withCommitVersion="true",
                **start,
            )
            .writeStream.foreachBatch(
                sinks.foreach_batch_merge_snapshot(
                    silver_root, ["o_orderkey"], order_col="_commit_version"
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            progress.extend(q.recentProgress)
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def refresh() -> dict:
        return ivm.refresh_gold_incremental(spark, orders_root, gold_root, GOLD_SPEC)

    base = spark.read.parquet(os.path.join(ctx.data_dir, "orders.parquet"))
    base_pdf = base.toPandas()
    gen = BatchGenerator(base_pdf, ctx.seed)
    spark_frame = lambda pdf: spark.createDataFrame(pdf, ORDERS_DDL)  # noqa: E731

    # -- set-up: initial load, the seed appends (logged and replayed like
    # every commit), gold bootstrap, and the stream started at the last
    # seed snapshot (it tails the commits that follow) --
    t_setup = time.perf_counter()
    sid = snapshots.write_snapshot(base, orders_root)
    for _ in range(SEED_COMMITS):
        pdf = gen.append(SEED_ROWS)
        sid = snapshots.write_snapshot(spark_frame(pdf), orders_root, mode="append")
        log.append({"op": "append", "payload": pdf, "sid": sid})
    refresh()
    catch_up(startingSnapshotId=sid)
    ctx.setup_extra_s += time.perf_counter() - t_setup

    commits = 0
    pending: list[float] = []  # return times of commits not yet in gold
    freshness: list[float] = []
    last_sid = snapshots._load(orders_root)["current"]
    prev_sid = last_sid
    user_bytes = 0

    def commit(kind: str, fn, payload) -> None:
        nonlocal commits, last_sid, prev_sid, user_bytes
        with ctx.op(f"ingest.{kind}", kind="write") as op:
            sid = fn()
        if not op.ok:
            return
        commits += 1
        pending.append(time.time())
        prev_sid, last_sid = last_sid, sid
        if isinstance(payload, pd.DataFrame):
            user_bytes += _logical_bytes(payload)
        log.append({"op": kind, "payload": payload, "sid": sid})
        if ctx.tracer.enabled:
            # log replay cost as the commit count grows, and the bytes
            # this commit wrote (its summary in the replayed log)
            entry = {h["id"]: h for h in snapshots.history(orders_root)}.get(sid, {})
            ctx.layer["snapshots.written_bytes"] += entry.get("summary", {}).get(
                "added_bytes", 0)
        if commits % CATCHUP_EVERY == 0:
            with ctx.op("ingest.catchup", kind="stream") as c_op:
                catch_up()
            if not c_op.ok:
                return
            with ctx.op("ingest.refresh", kind="stream") as r_op:
                info = refresh()
            if r_op.ok:
                done = time.time()
                freshness.extend(done - t for t in pending)
                pending.clear()
                ctx.layer_samples["ivm.files_read"].append(len(info["files_read"] or []))
        if commits % MAINTAIN_EVERY == 0:
            with ctx.op("ingest.maintain", kind="maintain") as m_op:
                sid_c = snapshots.compact_files(spark, orders_root)
                snapshots.expire_snapshots(orders_root, keep_last=4)
            if m_op.ok and ctx.tracer.enabled:
                entry = {h["id"]: h for h in snapshots.history(orders_root)}.get(sid_c, {})
                ctx.layer_samples["snapshots.maintenance_rewritten_bytes"].append(
                    entry.get("summary", {}).get("added_bytes", 0))

    def read(kind: str, fn, meta: dict) -> None:
        pdf = None
        with ctx.op(f"ingest.{kind}", kind="read") as op:
            pdf = fn().toPandas()
        if op.ok:
            log.append({"op": kind, "result": pdf, **meta})
        if ctx.tracer.enabled and "preds" in meta:
            plan = snapshots.plan_scan(orders_root, meta["preds"])
            if plan["candidates"]:
                ctx.layer_samples["snapshots.files_kept_ratio"].append(
                    len(plan["files"]) / plan["candidates"]
                )

    while not ctx.ops or ctx.busy_s() < ctx.seconds:
        for kind in CYCLE:
            if kind == "append":
                pdf = gen.append()
                commit(kind, lambda: snapshots.write_snapshot(
                    spark_frame(pdf), orders_root, mode="append"), pdf)
            elif kind == "merge":
                pdf = gen.merge()
                commit(kind, lambda: sql_dml.execute_dml(
                    spark,
                    "MERGE INTO orders t USING src s ON t.o_orderkey = s.o_orderkey "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
                    tables, {"src": spark_frame(pdf)})["snapshot_id"], pdf)
            elif kind == "update":
                lo, hi = gen.key_range(150)
                where = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
                set_ = "o_orderstatus = 'F', o_totalprice = o_totalprice * 2"
                commit(kind, lambda: sql_dml.execute_dml(
                    spark, f"UPDATE orders SET {set_} WHERE {where}", tables
                )["snapshot_id"], {"set": set_, "where": where})
            elif kind == "delete":
                lo, hi = gen.delete()
                where = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
                commit(kind, lambda: sql_dml.execute_dml(
                    spark, f"DELETE FROM orders WHERE {where}", tables
                )["snapshot_id"], {"where": where})
            elif kind == "point":
                k = gen.point_key()
                preds = [("o_orderkey", "=", k)]
                read(kind, lambda: snapshots.scan_snapshot(spark, orders_root, preds),
                     {"where": f"o_orderkey = {k}", "preds": preds})
            elif kind == "range":
                lo, hi = gen.key_range(500)
                preds = [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)]
                read(kind, lambda: snapshots.scan_snapshot(spark, orders_root, preds),
                     {"where": f"o_orderkey >= {lo} AND o_orderkey < {hi}",
                      "preds": preds})
            elif kind == "travel":
                lo, hi = gen.key_range(300)
                where = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
                sid = prev_sid
                read(kind, lambda: sql_dml.execute_dml(
                    spark, f"SELECT * FROM orders VERSION AS OF {sid} WHERE {where}",
                    tables)["df"], {"where": where, "version": sid})

    # -- untimed tail: measure; the reads and the replay that verify the
    # run wait until after the peak-RSS reading (a cycle ends on a
    # catch-up and refresh, so gold already covers every commit) --
    ctx.extra["freshness_s"] = freshness
    ctx.layer["snapshots.written_bytes_per_user_byte"] = ctx.layer[
        "snapshots.written_bytes"] / max(user_bytes, 1)
    ctx.layer["snapshots.metadata_bytes_per_commit"] = _metadata_bytes(
        orders_root) / max(commits + SEED_COMMITS + 1, 1)
    _fold_progress(ctx, progress)

    def finish() -> None:
        final = snapshots.read_snapshot(spark, orders_root).toPandas()
        gold = snapshots.read_snapshot(spark, gold_root).toPandas()
        stats = snapshots.table_stats(orders_root)
        ctx.extra["stored_bytes_per_user_byte"] = (
            stats["n_bytes"] / max(_logical_bytes(final), 1))
        ctx.layer["snapshots.live_files"] = stats["n_files"]
        replay(ctx, base_pdf, log, final, gold)

    ctx.defer("ingest:replay", finish)


def _logical_bytes(pdf: pd.DataFrame) -> int:
    """Bytes of the rows as Arrow columns: values, offsets and validity."""
    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


def _metadata_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _fold_progress(ctx, progress: list[dict]) -> None:
    rows = [p for p in progress if p.get("numInputRows")]
    ctx.layer["streaming.batches"] = len(rows)
    ctx.layer["streaming.rows"] = sum(p["numInputRows"] for p in rows)
    for key, name in (
        ("queryPlanning", "planning_s"), ("getBatch", "get_batch_s"),
        ("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
    ):
        ctx.layer[f"streaming.{name}"] = sum(
            (p.get("durationMs") or {}).get(key, 0) for p in progress
        ) / 1000.0


def replay(ctx, base: pd.DataFrame, log: list[dict], final, gold) -> None:
    """Replay the op log in DuckDB; compare every read, the final table
    and the gold rollup with the replayed state."""
    import duckdb

    from queries import _Collected
    from tests.oracle import compare

    con = duckdb.connect()
    con.register("base_df", base)
    con.execute("CREATE TABLE t AS SELECT * FROM base_df")
    versions: dict[int, str] = {}

    def same(name: str, got: pd.DataFrame, sql: str) -> None:
        want = con.execute(sql).fetchdf()
        ctx.check(name, lambda: compare(_Collected(got), _Collected(want), sql))

    for i, rec in enumerate(log):
        op = rec["op"]
        if op in ("append", "merge"):
            con.register("b", rec["payload"])
            con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
            con.execute("INSERT INTO t SELECT * FROM b")
            con.unregister("b")
        elif op == "update":
            con.execute(f"UPDATE t SET {rec['payload']['set']} WHERE {rec['payload']['where']}")
        elif op == "delete":
            con.execute(f"DELETE FROM t WHERE {rec['payload']['where']}")
        if op in WRITES:
            tbl = f"v{rec['sid']}"
            con.execute(f"CREATE TABLE {tbl} AS SELECT * FROM t")
            versions[rec["sid"]] = tbl
        elif op == "travel":
            src = versions.get(rec["version"])
            if src is None:
                # the version predates the first logged commit: the base
                src = "base_df"
            same(f"ingest:{i}:travel", rec["result"],
                 f"SELECT * FROM {src} WHERE {rec['where']}")
        elif op in ("point", "range"):
            same(f"ingest:{i}:{op}", rec["result"], f"SELECT * FROM t WHERE {rec['where']}")
    same("ingest:final_table", final, "SELECT * FROM t")
    same("ingest:gold_rollup", gold, GOLD_SQL)
