"""scan_planning: many small selective scans of a table with a long
history (100 snapshots, 100 data manifests, 3000 one-day files).

Pruning leaves Spark little to read, so the catalog, ``meta`` (Avro
manifest decode), ``plans`` (evaluators) and ``table.scan`` planning
layers dominate.  Predicates mix partition-source ranges on
``l_shipdate`` (table partitioned by ``day(l_shipdate)``), point and
range filters on ``l_orderkey`` (clustered by date, not a partition
column: metrics pruning) and time travel to older snapshots or tags.

One op is what a user runs: ``catalog.load_table`` -> ``scan`` ->
``to_df`` -> action.  The untraced op calls only ``to_df`` and the
action.  The traced op adds spans around each layer call, and - outside
the op's timed span - reads the planning counters from a *fresh* ``Scan``
after exactly one ``plan_files()`` and decodes the scanned snapshot's
manifest list and manifests directly.  ``Scan.to_df`` re-runs
``plan_files`` and the ``ScanReport`` data-manifest counters accumulate
with ``+=``, so reading them from the scan that was lowered would
double-count (see NOTES.md).
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field
from typing import Any, Dict, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import (NullTracer, dir_bytes, iceberg_schema, median, now,
                    tail, timed_setups, tree_cpu_s)
from oracle import Oracle, mismatch, spark_checksum

COMMITS = 100
DAYS_PER_COMMIT = 30
ROWS_PER_COMMIT = 1_200
TAG_EVERY = 20
# a block of scans: key scans decode every manifest of the snapshot
# (metrics pruning only), date scans skip most manifests by partition
# range; the run measures whole blocks so every run has the same mix
KIND_MIX = ("date", "key_point", "key_range", "key_range", "travel")
IDENT = ("db", "lineitem_hist")
NULL = NullTracer()


@dataclass
class ScanSpec:
    expr: Any                      # engine expression
    where_sql: str                 # the same predicate for the oracle
    snapshot_id: Optional[int] = None
    ref: Optional[str] = None
    note: Dict[str, Any] = field(default_factory=dict)


def _inputs(rng):
    """The ingest history: one lineitem slice per commit, each covering
    the next DAYS_PER_COMMIT days with keys growing with the date."""
    slices = []
    for c in range(COMMITS):
        lo = gen.FIRST_DAY + c * DAYS_PER_COMMIT
        t = gen.lineitem(rng, ROWS_PER_COMMIT, c * ROWS_PER_COMMIT,
                         (lo, lo + DAYS_PER_COMMIT - 1), ordered=True)
        slices.append(t.append_column(
            "commit_no", pa.array(np.full(t.num_rows, c, "int32"))))
    return pa.concat_tables(slices)


def _write_day_files(ctx, rows: pa.Table, schema):
    """One parquet file per (commit, day), carrying Iceberg field ids,
    and its DataFile with exact column bounds.  ``rows`` is ordered by
    (commit, day).  Returns the DataFiles grouped by commit."""
    from iceberg_go_spark.meta import manifests as M
    from iceberg_go_spark.meta.conversions import to_bytes
    fields = [(f.field_id, f.field_type, f.name) for f in schema.fields]
    arrow_schema = pa.schema([
        rows.schema.field(name).with_metadata(
            {b"PARQUET:field_id": str(fid).encode()})
        for fid, _t, name in fields])
    data = rows.select([n for _f, _t, n in fields]).cast(arrow_schema)
    bounds = {(r["commit_no"], r["l_shipdate"]): r for r in rows.group_by(
        ["commit_no", "l_shipdate"], use_threads=False).aggregate(
        [(n, "min_max") for _f, _t, n in fields]).to_pylist()}
    commit_no = rows.column("commit_no").to_numpy()
    days = rows.column("l_shipdate").cast(pa.int32()).to_numpy()
    key = commit_no.astype("int64") * 100_000 + days
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    ends = np.r_[starts[1:], len(key)]
    groups = [[] for _ in range(COMMITS)]
    for s, e in zip(starts, ends):
        c, d = int(commit_no[s]), int(days[s])
        path = ctx.path("inputs", "hist", f"c{c}", f"d{d}.parquet")
        pq.write_table(data.slice(s, e - s), path)
        b = bounds[(c, gen.day(d))]
        n = int(e - s)
        groups[c].append(M.DataFile(
            content=M.CONTENT_DATA, file_path=path, file_format="PARQUET",
            partition={"l_shipdate_day": gen.day(d)},
            record_count=n, file_size_in_bytes=os.path.getsize(path),
            value_counts={fid: n for fid, _t, _n in fields},
            null_value_counts={fid: 0 for fid, _t, _n in fields},
            lower_bounds={fid: to_bytes(t, b[f"{nm}_min_max"]["min"])
                          for fid, t, nm in fields},
            upper_bounds={fid: to_bytes(t, b[f"{nm}_min_max"]["max"])
                          for fid, t, nm in fields}))
    return groups


def _build(ctx, schema, groups, rep: int):
    """Fresh warehouse; one commit per ingest slice registering that
    slice's files (``Transaction.append_files``), a tag every TAG_EVERY
    commits."""
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.meta.partitioning import spec_from_names

    cat = FilesystemCatalog(ctx.dir(f"warehouse{rep}"))
    table = cat.create_table(IDENT, schema,
                             spec_from_names(schema, ("l_shipdate", "day")))
    snapshots = []
    for c, files in enumerate(groups):
        table.new_transaction().append_files(files).commit()
        snapshots.append(table.current_snapshot().snapshot_id)
        if (c + 1) % TAG_EVERY == 0:
            table.create_tag(f"t{c + 1}", snapshots[-1])
    return cat, table, snapshots


def _blocks(rng, n_rows: int, snapshots):
    """Endless seeded stream of blocks of ScanSpecs; every block holds
    the KIND_MIX kinds, in seeded order."""
    while True:
        block = list(KIND_MIX)
        rng.shuffle(block)
        yield [_spec(rng, kind, n_rows, snapshots) for kind in block]


def _spec(rng, kind: str, n_rows: int, snapshots):
    from iceberg_go_spark import expressions as E
    if kind == "date":
        d0 = gen.FIRST_DAY + int(rng.integers(0, COMMITS * DAYS_PER_COMMIT))
        d1 = d0 + int(rng.integers(1, 21))
        expr = E.and_(E.gt_eq("l_shipdate", gen.day(d0)),
                      E.lt("l_shipdate", gen.day(d1)))
    elif kind == "key_point":
        expr = E.eq("l_orderkey", int(rng.integers(0, n_rows)))
    else:
        k = int(rng.integers(0, n_rows))
        expr = E.and_(E.gt_eq("l_orderkey", k),
                      E.lt("l_orderkey", k + int(rng.integers(10, 400))))
    where = E.to_sql(expr)
    snap_id = ref = None
    if kind == "travel":
        # planning cost grows with the snapshot's manifest count: travel
        # stays within the newer half of the history so that one seed's
        # block costs about what another's does
        if rng.random() < 0.5:
            c = int(rng.integers(COMMITS // TAG_EVERY // 2 + 1,
                                 COMMITS // TAG_EVERY + 1)) * TAG_EVERY
            ref = f"t{c}"
        else:
            c = int(rng.integers(COMMITS // 2, COMMITS + 1))
            snap_id = snapshots[c - 1]
        where = f"{where} AND commit_no < {c}"
    return ScanSpec(expr, where, snap_id, ref,
                    {"kind": kind, "snapshot": snap_id or ref or "current"})


def _build_scan(table, spec: ScanSpec):
    s = table.scan(spec.expr)
    if spec.snapshot_id is not None:
        s = s.use_snapshot(spec.snapshot_id)
    elif spec.ref is not None:
        s = s.use_ref(spec.ref)
    return s


def _run_scan(ctx, catalog, spec: ScanSpec, traced: bool):
    """One scan op; returns ((count, hash sum), e2e ms, table, CPU ms).
    With ``traced`` the layer spans are recorded under a new op id."""
    tr = ctx.tracer if traced else NULL
    tr.new_op()
    c0 = tree_cpu_s()
    t0 = now()
    with tr.span("scan.op"):
        with tr.span("catalog.load_table"):
            table = catalog.load_table(IDENT)
        with tr.span("scan.to_df"):
            df = _build_scan(table, spec).to_df(ctx.spark)
        with tr.span("spark.exec"):
            result = spark_checksum(df)
    ms = (now() - t0) * 1000.0
    return result, ms, table, (tree_cpu_s() - c0) * 1000.0


def _trace_counters(ctx, table, spec: ScanSpec, rows_returned: int):
    """Planning and metadata counters for the op just traced; run
    outside the op's timed span."""
    from iceberg_go_spark.meta import manifests as M
    tr = ctx.tracer
    fresh = _build_scan(table, spec)
    with tr.span("scan.plan_files"):
        tasks = fresh.plan_files()
    rep = fresh.report
    if rep.total_manifests:
        tr.count("plans.manifests_skipped_ratio",
                 rep.skipped_manifests / rep.total_manifests)
    if rep.total_data_files:
        tr.count("plans.files_skipped_ratio",
                 rep.skipped_data_files / rep.total_data_files)
    if rows_returned:
        tr.count("scan.rows_read_per_row_returned",
                 sum(t.data_file.record_count for t in tasks)
                 / rows_returned)
    tr.count("meta.metadata_json_bytes",
             os.path.getsize(table.metadata_location))
    md = table.metadata
    if spec.snapshot_id is not None:
        snap = md.snapshot_by_id(spec.snapshot_id)
    elif spec.ref is not None:
        snap = md.snapshot_for_ref(spec.ref)
    else:
        snap = md.current_snapshot()
    t0 = now()
    manifests = M.read_manifest_list(snap.manifest_list)
    tr.count("meta.read_manifest_list_ms", (now() - t0) * 1000.0)
    t0 = now()
    for mf in manifests:
        M.read_manifest(mf.manifest_path)
    tr.count("meta.read_manifest_ms", (now() - t0) * 1000.0)
    tr.count("meta.manifests_read", len(manifests))


def _layers(ctx, traced_ms, overhead_ms) -> None:
    """Per-layer medians from the traced scans, the share of the op's
    latency the layer self times account for, and the tracing overhead."""
    tr, L = ctx.tracer, ctx.layers
    self_ms = tr.self_times_ms()
    plan = self_ms.get("scan.plan_files", [])
    todf = self_ms.get("scan.to_df", [])
    load = self_ms.get("catalog.load_table", [])
    exe = self_ms.get("spark.exec", [])
    L["catalog.load_table_ms"] = median(load)
    L["scan.plan_ms"] = median(plan)
    # to_df plans again: its time beyond one planning pass is lowering
    L["scan.to_df_ms"] = median([a - b for a, b in zip(todf, plan)])
    L["spark.exec_ms"] = median(exe)
    # skip ratios are means: only the block's date scan skips manifests,
    # so their median would read 0 whatever the date pruning did
    for name in ("plans.manifests_skipped_ratio",
                 "plans.files_skipped_ratio"):
        L[name] = statistics.fmean(tr.counter_values(name) or [0.0])
    for name in ("scan.rows_read_per_row_returned",
                 "meta.metadata_json_bytes", "meta.read_manifest_list_ms",
                 "meta.read_manifest_ms", "meta.manifests_read"):
        L[name] = median(tr.counter_values(name))
    # the layer self times of one op over that op's end-to-end latency
    L["scan.layer_coverage"] = median([
        (a + b + c) / ms for a, b, c, ms in zip(load, todf, exe, traced_ms)])
    L["trace.overhead_ms"] = median(overhead_ms)
    ctx.detail["plan_share_of_scan"] = median(
        [p / ms for p, ms in zip(plan, traced_ms)])


def run(ctx) -> None:
    rng = np.random.default_rng(ctx.seed)
    rows = _inputs(rng)
    oracle = Oracle()
    oracle.create("hist", rows)
    schema = iceberg_schema(ctx, gen.LINEITEM_SCHEMA, "lineitem")
    groups = _write_day_files(ctx, rows, schema)
    input_bytes = sum(f.file_size_in_bytes for g in groups for f in g)

    ctx.phase("inputs")
    cat, table, snapshots = timed_setups(
        ctx, lambda rep: _build(ctx, schema, groups, rep), reps=3)
    ctx.phase("setup")
    blocks = _blocks(rng, rows.num_rows, snapshots)
    log, traced = ctx.log, ctx.tracer.enabled

    def scan(spec, trace_op: bool):
        """One checked scan op: (result, ms, table) or None."""
        want = oracle.checksum("hist", spec.where_sql)
        return log.run("scan", lambda: _run_scan(ctx, cat, spec, trace_op),
                       lambda r: mismatch(
                           f"scan {spec.note} [{spec.where_sql}]", r[0],
                           want))

    # warm-up: one untimed (but checked) block; the first scan of each
    # kind in a process pays JIT and class-loading costs (the first time
    # travel took 3x a later one)
    for spec in next(blocks):
        scan(spec, False)
    ctx.phase("warm-up")

    lat, traced_ms, overhead_ms = [], [], []
    returned, seen, rereads = 0, set(), 0
    by_kind, cpu_by_kind = {}, {}

    def block(specs) -> None:
        nonlocal returned, rereads
        for i, spec in enumerate(specs):
            # traced run: each scan runs traced and untraced, in
            # alternating order, so the pair's difference is the tracing
            # overhead on the same work
            runs = ((True, False) if i % 2 == 0 else (False, True)) \
                if traced else (False,)
            outs = {t: scan(spec, t) for t in runs}
            key = spec.note["snapshot"]
            rereads += key in seen
            seen.add(key)
            if any(o is None for o in outs.values()):
                continue
            (n, _h), ms, _tbl, cpu_ms = outs[False]
            lat.append(ms)
            by_kind.setdefault(spec.note["kind"], []).append(ms)
            cpu_by_kind.setdefault(spec.note["kind"], []).append(cpu_ms)
            returned += n
            if traced:
                traced_ms.append(outs[True][1])
                overhead_ms.append(outs[True][1] - ms)
                _trace_counters(ctx, outs[True][2], spec, n)

    t_end = now() + ctx.seconds
    # whole blocks only, so every run has the same mix of scan kinds; a
    # block starts only if one as long as the last still fits the window
    while True:
        t0 = now()
        block(next(blocks))
        if 2 * now() - t0 > t_end:
            break

    ctx.phase("measure")
    if all(by_kind.get(k) for k in KIND_MIX):
        # scans per CPU second the engine spent in the measured scans
        ctx.e2e["work_per_cpu_s"] = len(lat) / (sum(
            sum(v) for v in cpu_by_kind.values()) / 1000.0)
        # wall clock: a block rebuilt from the median scan of each kind,
        # so a stall that hits a minority of the scans of a kind does not
        # move it
        ctx.detail["scans_per_s"] = len(KIND_MIX) / (sum(
            median(by_kind[k]) for k in KIND_MIX) / 1000.0)
    ctx.detail.update(scan_p50_ms=median(lat), scan_tail=tail(lat),
                      rows_returned=returned,
                      p50_ms_by_kind={k: round(median(v), 1)
                                      for k, v in by_kind.items()},
                      cpu_p50_ms_by_kind={k: round(median(v), 1)
                                          for k, v in cpu_by_kind.items()})
    ctx.detail["reread_share"] = rereads / max(len(seen) + rereads, 1)
    # the data files live outside the table location: add them back
    ctx.e2e["space_amp"] = (dir_bytes(table.location()) + input_bytes) \
        / input_bytes
    if traced and traced_ms:
        _layers(ctx, traced_ms, overhead_ms)
    oracle.close()
