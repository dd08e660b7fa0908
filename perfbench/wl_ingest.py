"""ingest: micro-batch appends into a month-partitioned lineitem table,
with row-level ops and maintenance in fixed cycles.

Each batch is the next slice of a time-ordered stream, so it lands in
one or two month partitions.  Set-up loads the first PRELOAD batches
(RETAIN_DAYS of history) in one append.  A cycle is CYCLE_APPENDS
appends; after every DML_EVERY-th a row-level op runs against a random
recent batch - a merge-on-read ``delete_where`` on a key range or a key
``upsert``, one of each per cycle in seeded order - and the cycle ends
with maintenance: a retention delete of the months older than
RETAIN_DAYS, then ``compact`` -> ``rewrite_manifests`` ->
``expire_snapshots``.  Retention keeps the table at a steady size, so
every cycle costs about the same however many of them a run fits.  The
run measures whole cycles within ``--seconds``, so every run has the
same mix of op kinds.  The write, transaction, DML and maintenance
layers do nearly all the work; scan planning is light.  The run ends
with a full-table checksum against the oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import (NullTracer, dir_bytes, iceberg_schema, median, now,
                    tail, timed_setups, trace_overhead, tree_cpu_s)
from oracle import Oracle, mismatch, spark_checksum

PRELOAD = 12             # batches loaded in set-up: 120 days
BATCHES = PRELOAD + 72   # then 1 warm-up cycle and up to 11 measured
KEY_STRIDE = 10_000      # batch b owns keys [b * KEY_STRIDE, +KEY_STRIDE)
UPSERT_NEW_KEYS = 5_000  # offset of the keys an upsert inserts
DAYS_PER_BATCH = 10
DML_EVERY = 3
DML_REACH = 9            # row-level ops target the last 9 batches (~100 days)
RETAIN_DAYS = 120        # maintenance drops months older than this
CYCLE_APPENDS = 6        # a cycle: 6 appends, 2 row-level ops, maintenance
IDENT = ("db", "lineitem_ingest")
# op sizes are fixed so every seed does the same amount of work; the seed
# picks the rows, the targets and the order of the row-level ops
BATCH_ROWS = 2_000
DELETE_KEYS = 200
UPSERT_ROWS = 200
# the ops of one cycle, by kind; in a traced run every other append is
# traced, and the untraced ones give the append latency
CYCLE_MIX = {"append": CYCLE_APPENDS, "delete": 1, "upsert": 1,
             "maintenance": 1}
CYCLE_ROWS = CYCLE_APPENDS * BATCH_ROWS
NULL = NullTracer()


def _inputs(ctx, rng):
    """Every batch, and the row-level ops in the order they run:
    ("delete", lo_key, hi_key) or ("upsert", rows, parquet path).  Op i
    runs after batch PRELOAD - 1 + DML_EVERY * (i + 1) is appended and
    targets one of the DML_REACH batches up to that one, which retention
    has not dropped."""
    batches, paths = [], []
    for b in range(BATCHES):
        lo = gen.FIRST_DAY + b * DAYS_PER_BATCH
        t = gen.lineitem(rng, BATCH_ROWS, b * KEY_STRIDE,
                         (lo, lo + DAYS_PER_BATCH + 3), ordered=True)
        p = ctx.path("inputs", "ingest", f"b{b}.parquet")
        pq.write_table(t, p)
        batches.append(t)
        paths.append(p)
    kinds = []
    for _ in range((BATCHES - PRELOAD) // DML_EVERY // 2 + 1):
        pair = ["delete", "upsert"]
        rng.shuffle(pair)
        kinds += pair
    dmls = []
    for i, kind in enumerate(kinds):
        last = PRELOAD - 1 + DML_EVERY * (i + 1)
        b = int(rng.integers(last - DML_REACH + 1, last + 1))
        lo = b * KEY_STRIDE + int(rng.integers(0, BATCH_ROWS - DELETE_KEYS))
        if kind == "delete":
            dmls.append(("delete", lo, lo + DELETE_KEYS))
            continue
        days = (gen.FIRST_DAY + b * DAYS_PER_BATCH,
                gen.FIRST_DAY + (b + 1) * DAYS_PER_BATCH + 3)
        rows = pa.concat_tables([
            gen.lineitem(rng, UPSERT_ROWS, lo, days),
            gen.lineitem(rng, 50, b * KEY_STRIDE + UPSERT_NEW_KEYS + i * 100,
                         days)])
        p = ctx.path("inputs", "ingest", f"u{i}.parquet")
        pq.write_table(rows, p)
        dmls.append(("upsert", rows, p))
    return batches, paths, dmls


def _create(ctx, schema, paths, rep):
    """Fresh warehouse: create the table and load the history."""
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.meta.partitioning import spec_from_names
    cat = FilesystemCatalog(ctx.dir(f"warehouse{rep}"))
    table = cat.create_table(
        IDENT, schema, spec_from_names(schema, ("l_shipdate", "month")))
    table.append(ctx.spark.read.parquet(*paths[:PRELOAD]))
    return table


class _Ingest:
    """The client: one table handle, the oracle, and the running totals."""

    def __init__(self, ctx, table, oracle, batches, paths):
        self.ctx, self.table, self.oracle = ctx, table, oracle
        self.batches, self.paths = batches, paths
        self.user_bytes = sum(os.path.getsize(p) for p in paths[:PRELOAD])
        self.written = table.last_commit_report.added_files_size_bytes
        self.redundant_deletes = 0
        self.last_batch = PRELOAD - 1
        # kind -> [(wall ms, CPU ms)] of the measured ops that passed
        self.samples = {}
        self.measuring = False

    def _timed(self, kind, fn, check):
        """One closed-loop op, recorded under ``kind`` while measuring;
        returns (result or None, ms)."""
        c0, t0 = tree_cpu_s(), now()
        out = self.ctx.log.run(kind, fn, check)
        ms = (now() - t0) * 1000.0
        cpu_ms = (tree_cpu_s() - c0) * 1000.0
        if out is not None and self.measuring:
            self.samples.setdefault(kind, []).append((ms, cpu_ms))
        return out, ms

    def append(self, b: int, traced: bool):
        spark, tr, table = self.ctx.spark, self.ctx.tracer, self.table
        df = spark.read.parquet(self.paths[b])
        n = self.batches[b].num_rows

        def op():
            # Table.append is this call chain; the spans are free when
            # the op is not traced
            t = tr if traced else NULL
            t.new_op()
            with t.span("ingest.append"):
                txn = table.new_transaction()
                with t.span("write.stage"):
                    txn.append(df)
                with t.span("transaction.commit"):
                    return txn.commit()

        def check(_t):
            return mismatch("append added_records",
                            table.last_commit_report.added_records, n)
        out, ms = self._timed("append_traced" if traced else "append", op,
                              check)
        self.oracle.insert("t", self.batches[b])
        self.last_batch = b
        self.user_bytes += os.path.getsize(self.paths[b])
        if out is None:
            return None
        rep = table.last_commit_report
        self.written += rep.added_files_size_bytes
        if traced:
            tr.count("write.files_per_append", rep.added_data_files)
            tr.count("write.bytes_per_row",
                     rep.added_files_size_bytes / max(rep.added_records, 1))
            tr.count("transaction.commit_attempts", rep.attempts)
        return ms

    def dml(self, spec):
        from iceberg_go_spark import expressions as E
        spark, tr, table = self.ctx.spark, self.ctx.tracer, self.table
        if spec[0] == "delete":
            expr = E.and_(E.gt_eq("l_orderkey", spec[1]),
                          E.lt("l_orderkey", spec[2]))
            want = self.oracle.delete("t", E.to_sql(expr))

            def op():
                with tr.span("dml.delete"):
                    return table.delete_where(spark, expr,
                                              mode="merge-on-read")

            def check(_t):
                # a live matching row needs a position delete; the spec
                # allows deletes of rows that are already dead (e.g. an
                # upsert's equality delete), so more is not wrong - it is
                # counted, and the run-end checksum proves the content
                got = int(table.current_snapshot().summary.get(
                    "added-position-deletes", 0)) if want else 0
                self.redundant_deletes += max(got - want, 0)
                if got < want:
                    return (f"delete added {got} position deletes, "
                            f"{want} rows matched")
                return None
        else:
            rows, path = spec[1], spec[2]
            src = spark.read.parquet(path)
            self.oracle.upsert("t", rows, "l_orderkey")
            self.user_bytes += os.path.getsize(path)

            def op():
                with tr.span("dml.upsert"):
                    return table.upsert(spark, src, ["l_orderkey"])

            def check(_t):
                return mismatch("upsert added_records",
                                table.last_commit_report.added_records,
                                rows.num_rows)
        out, ms = self._timed(spec[0], op, check)
        if out is None:
            return None
        rep = table.last_commit_report
        self.written += rep.added_files_size_bytes
        tr.count("dml.delete_files_added", rep.added_delete_files)
        return ms

    def maintain(self):
        """Retention, then compact -> rewrite_manifests -> expire."""
        from iceberg_go_spark import expressions as E
        tr, table = self.ctx.tracer, self.table
        # drop the months that ended RETAIN_DAYS before the newest row:
        # a month-aligned cut matches whole files, so the engine drops
        # them from the manifests, and the table keeps a bounded size
        newest = gen.FIRST_DAY + self.last_batch * DAYS_PER_BATCH + 13
        cutoff = gen.day(newest - RETAIN_DAYS).replace(day=1)
        expr = E.lt("l_shipdate", cutoff)
        want = self.oracle.delete("t", E.to_sql(expr))

        def files():
            return int(table.current_snapshot().summary["total-data-files"])

        def op():
            held = files()
            with tr.span("maintenance.retention"):
                table.delete_where(self.ctx.spark, expr,
                                   mode="merge-on-read")
            before = files()
            with tr.span("maintenance.compact"):
                table.compact(self.ctx.spark)
            rewritten = table.last_commit_report.added_files_size_bytes
            after = files()
            with tr.span("maintenance.rewrite_manifests"):
                table.rewrite_manifests()
            with tr.span("maintenance.expire"):
                table.expire_snapshots(retain_last=1)
            return before, after, rewritten, held - before

        def check(r):
            if want and not r[3]:
                return f"retention dropped no file; {want} rows matched"
            if r[1] > r[0]:
                return f"compaction grew the file count {r[0]} -> {r[1]}"
            return None

        out, ms = self._timed("maintenance", op, check)
        if out is None:
            return None
        before, after, rewritten, _dropped = out
        self.written += rewritten
        tr.count("maintenance.bytes_rewritten", rewritten)
        tr.count("maintenance.files_before", before)
        tr.count("maintenance.files_after", after)
        return ms


def run(ctx) -> None:
    spark, log, tr = ctx.spark, ctx.log, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    batches, paths, dmls = _inputs(ctx, rng)
    schema = iceberg_schema(ctx, gen.LINEITEM_SCHEMA, "lineitem")
    oracle = Oracle()
    oracle.create("t", pa.concat_tables(batches[:PRELOAD]))
    ctx.phase("inputs")
    table = timed_setups(ctx, lambda rep: _create(ctx, schema, paths, rep),
                         reps=3)
    ctx.phase("setup")
    client = _Ingest(ctx, table, oracle, batches, paths)
    n = {"commits": 0, "dml": 0, "cycles": 0}

    def cycle() -> None:
        """CYCLE_APPENDS appends, a row-level op after every DML_EVERY-th,
        then maintenance."""
        for _ in range(CYCLE_APPENDS):
            n["commits"] += 1
            b = PRELOAD - 1 + n["commits"]
            client.append(b, client.measuring and tr.enabled and b % 2 == 0)
            if n["commits"] % DML_EVERY == 0:
                client.dml(dmls[n["dml"]])
                n["dml"] += 1
        client.maintain()

    # warm-up (untimed, checked): one whole cycle; the first delete of a
    # process costs about 4x a steady one.
    cycle()
    tr.reset()
    ctx.phase("warm-up")

    client.measuring = True
    t_end = now() + ctx.seconds
    # whole cycles only, so every run has the same mix of op kinds; a
    # cycle starts only if one as long as the last still fits the window
    while True:
        t0 = now()
        cycle()
        n["cycles"] += 1
        if n["cycles"] == 1:
            # after a fixed amount of work, so a faster machine that fits
            # more cycles into the window reads the same ratio
            space_amp = dir_bytes(table.location()) / client.user_bytes
        if (2 * now() - t0 > t_end
                or PRELOAD + n["commits"] + CYCLE_APPENDS > BATCHES):
            break
    client.measuring = False

    ctx.phase("measure")
    # run end: the whole table against the oracle
    got = spark_checksum(table.refresh().scan().to_df(spark))
    log.check("final checksum", mismatch("table checksum", got,
                                         oracle.checksum("t")))
    ctx.e2e["space_amp"] = space_amp
    wall = {k: [w for w, _c in v] for k, v in client.samples.items()}
    cpu = {k: [c for _w, c in v] for k, v in client.samples.items()}
    appends = wall.get("append") or wall.get("append_traced", [])
    rows = BATCH_ROWS * (len(wall.get("append", []))
                         + len(wall.get("append_traced", [])))
    if all(wall.get(k) for k in CYCLE_MIX):
        # rows appended per CPU second the engine spent in the measured
        # ops; traced appends (every other one, in a traced run) count too
        ctx.e2e["work_per_cpu_s"] = rows / (sum(
            sum(v) for v in cpu.values()) / 1000.0)
        # wall clock: a cycle rebuilt from the median op of each kind, so
        # a stall that hits a minority of the ops of a kind does not move
        # it (the untraced appends stand for all appends)
        ctx.detail["ingest_rows_per_s"] = CYCLE_ROWS / (sum(
            c * median(wall[k]) for k, c in CYCLE_MIX.items()) / 1000.0)
    ctx.detail.update(
        cycles=n["cycles"], commits=n["commits"],
        append_p50_ms=median(appends), append_tail=tail(appends),
        p50_ms_by_kind={k: round(median(v), 1) for k, v in wall.items()},
        cpu_p50_ms_by_kind={k: round(median(v), 1) for k, v in cpu.items()},
        redundant_position_deletes=client.redundant_deletes,
        space_amp=space_amp)
    if tr.enabled:
        _layers(ctx, wall, (client.written / client.user_bytes))
    oracle.close()


def _layers(ctx, wall, write_amp: float) -> None:
    tr, L = ctx.tracer, ctx.layers
    self_ms = tr.self_times_ms()
    for span, name in (("write.stage", "write.stage_ms"),
                       ("transaction.commit", "transaction.commit_ms"),
                       ("dml.delete", "dml.delete_ms"),
                       ("dml.upsert", "dml.upsert_ms"),
                       ("maintenance.retention",
                        "maintenance.retention_ms"),
                       ("maintenance.compact", "maintenance.compact_ms"),
                       ("maintenance.rewrite_manifests",
                        "maintenance.rewrite_manifests_ms"),
                       ("maintenance.expire", "maintenance.expire_ms")):
        if span in self_ms:
            L[name] = median(self_ms[span])
    for name in ("write.files_per_append", "write.bytes_per_row",
                 "transaction.commit_attempts", "dml.delete_files_added",
                 "maintenance.bytes_rewritten", "maintenance.files_before",
                 "maintenance.files_after"):
        vals = tr.counter_values(name)
        if vals:
            L[name] = median(vals)
    L["storage.write_amp"] = write_amp
    trace_overhead(L, wall.get("append_traced", []), wall.get("append", []))
