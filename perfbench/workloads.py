"""The two workloads. Each drives the engine only through its public
API, times its units of work, and checks the outputs against a replay
or an oracle outside the timed sections.

A workload returns a ``Result``: the timed operation latencies, the
items done and their timed wall, the per-layer figures it can only see
from the benchmark side, and every correctness gate it ran.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from . import datagen, harness
from .harness import materialize, timed

CDC_ORDERS = 15_000    # sf0.01 orders
CDC_CUSTOMERS = 1_500
BATCH_EVENTS = 500
#: nominal seconds of one cdc_mixed cycle and one query_mix pass
CYCLE_NOMINAL_S = 10.0
PASS_NOMINAL_S = 9.0
QUERY_SF = 0.01
#: input generation runs this many times per run; set-up reports its median
SETUP_REPEATS = 3
QUERY_MIX = (
    # TPC-H joins
    "q3_shipping_priority", "q9_nation_profit",
    # event windows
    "sessionize_events",
    # shuffle-heavy dedup
    "minhash_lsh_pairs",
    # text
    "simhash",
    # embedding arithmetic
    "sq8_quant_error",
)


@dataclass
class Result:
    ops: list[float] = field(default_factory=list)      # timed op latencies (s)
    primary: list[float] = field(default_factory=list)  # the commits or queries among them
    # CPU seconds of each primary operation, by kind: the CoW and the
    # MoR commit, or each query
    op_cpu: dict[str, list[float]] = field(default_factory=dict)
    timed_cpu_s: float = 0.0                            # CPU of the timed units
    items: int = 0                                      # events or queries done
    timed_s: float = 0.0                                # wall of the timed units
    setup_s: float = 0.0                                # load + warm-up (not session)
    layer: dict[str, float] = field(default_factory=dict)
    gates: dict[str, bool] = field(default_factory=dict)
    attempted: int = 0


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    trace: bool
    work: str       # this run's scratch root

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def units(self, nominal_s: float) -> int:
        """Whole units of timed work for ``seconds``, at a unit's nominal
        duration on a 4-CPU host: a fixed amount of work per run, so runs
        compare. A traced run does at least three: untraced, traced,
        untraced."""
        return max(3 if self.trace else 1, round(self.seconds / nominal_s))

    def traced_unit(self, i: int) -> bool:
        """Traced runs alternate untraced and traced units so the
        overhead is measured on like work, with untraced units on both
        sides of a traced one to cancel the warm-up trend; untraced runs
        trace none."""
        return self.trace and i % 2 == 1


# ----------------------------------------------------------------- CDC


def _load_base(ctx: Ctx):
    """Generate sf0.01 ``orders`` and RTAS it through the ingest layer."""
    from datalake_iceberg_spark.ingest import batch
    from datalake_iceberg_spark.tables import LakeCatalog

    def generate():
        base = datagen.orders_table(np.random.default_rng([ctx.seed, 0]), CDC_ORDERS, CDC_CUSTOMERS)
        os.makedirs(ctx.path("input"), exist_ok=True)
        pq.write_table(base, ctx.path("input", "orders.parquet"))
        return base

    base, gen_med, gen_total = harness.repeated(SETUP_REPEATS, generate)
    catalog = LakeCatalog(ctx.spark, ctx.path("warehouse"))
    df = ctx.spark.read.parquet(ctx.path("input", "orders.parquet"))
    table, load_s = timed(ctx.tracer.span, "ingest", "snapshot_to_table",
                          batch.snapshot_to_table, catalog, "tpch.orders", df, ["o_orderkey"])
    model = datagen.CdcModel.from_base(base, ctx.seed, CDC_CUSTOMERS)
    return table, model, load_s, gen_total - gen_med


def _table_state_gate(table, model) -> bool:
    """Final table == driver replay of base rows + every event, on the
    payload columns (timestamps compared as text)."""
    from pyspark.sql import functions as F

    rows = (table.read()
            .select(*[F.col(c).cast("string").alias(c) if c == "o_orderdate" else F.col(c)
                      for c in datagen.ORDER_COLS])
            .toArrow().to_pydict())
    got = {k: tuple(rows[c][i] for c in datagen.ORDER_COLS) for i, k in enumerate(rows["o_orderkey"])}
    want = {k: r[:4] + (r[4].strftime("%Y-%m-%d %H:%M:%S"), r[5]) for k, r in model.rows.items()}
    return len(rows["o_orderkey"]) == len(want) and got == want


def _wait_for(cond, timeout: float) -> None:
    end = time.monotonic() + timeout
    while not cond() and time.monotonic() < end:
        time.sleep(0.05)


def _write_stats(before, after, location: str) -> tuple[int, int]:
    """Buckets touched and bytes added from one snapshot to the next."""
    def dirs(s):
        return set(s.all_dirs()) | set(s.all_delete_dirs())

    touched = {b for b in set(after.buckets) | set(after.deletes)
               if after.buckets.get(b) != before.buckets.get(b)
               or after.deletes.get(b) != before.deletes.get(b)}
    added = sum(harness.dir_bytes(d if d.startswith("/") else os.path.join(location, d))
                for d in dirs(after) - dirs(before))
    return len(touched), added


def cdc_mixed(ctx: Ctx) -> Result:
    """Copy-on-write commits through the streaming runner and
    merge-on-read commits applied directly, each followed by reads, with
    a fold closing every cycle (see README.md)."""
    from collections import defaultdict

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from datalake_iceberg_spark.cdc import pipeline
    from datalake_iceberg_spark.functions.keys import surrogate_key
    from datalake_iceberg_spark.streaming.runner import CdcStreamRunner, SourceConfig

    progress: list[tuple[int, float, int]] = []  # (batch id, trigger s, rows)

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event): pass
        def onQueryIdle(self, event): pass
        def onQueryTerminated(self, event): pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:
                progress.append((p.batchId, p.durationMs.get("triggerExecution", 0) / 1000.0,
                                 p.numInputRows))

    res = Result()
    t0 = time.perf_counter()
    table, model, res.layer["ingest.snapshot_s"], extra = _load_base(ctx)
    res.layer["ingest.rows"] = CDC_ORDERS
    rng = np.random.default_rng([ctx.seed, 3])
    stream_dir, direct_dir = ctx.path("landing", "stream"), ctx.path("landing", "direct")
    os.makedirs(stream_dir)
    os.makedirs(direct_dir)
    runner = CdcStreamRunner(ctx.spark, checkpoint_root=ctx.path("checkpoints"), dag_id="bench")
    source = SourceConfig(name="tpch.orders", path=stream_dir, format="json",
                          schema=datagen.ENVELOPE_DDL, key_cols=["o_orderkey"],
                          max_files_per_trigger=1)
    listener = Progress()
    ctx.spark.streams.addListener(listener)
    files = {"stream": 0, "direct": 0}
    kinds: dict[str, list[float]] = defaultdict(list)
    cpu: dict[str, list[float]] = defaultdict(list)
    writes: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])  # ops, buckets, bytes
    lookup_ok, eras, scan_reports = [], [], []
    drain_traced: list[bool] = []

    def land(kind: str) -> str:
        n = sum(files.values())
        path = os.path.join(stream_dir if kind == "stream" else direct_dir, f"b{n:05d}.json")
        datagen.write_envelope_file(path, model.batch(BATCH_EVENTS), mtime=1_700_000_000 + n)
        files[kind] += 1
        return path

    def op(kind: str, fn, *a, span: str | None = None):
        """Time one operation, wall and CPU; reads are materialized here,
        so their jobs are tagged as the tables layer's."""
        c0 = harness.tree_cpu_s()
        out, w = timed(fn, *a) if span is None else timed(ctx.tracer.span, "tables", span, fn, *a)
        kinds[kind].append(w)
        cpu[kind].append(harness.tree_cpu_s() - c0)
        return out

    def write(kind: str, fn, *a) -> None:
        before = table.snapshot()
        op(kind, fn, *a)
        n_b, n_bytes = _write_stats(before, table.snapshot(), table.location)
        acc = writes[kind]
        acc[0], acc[1], acc[2] = acc[0] + 1, acc[1] + n_b, acc[2] + n_bytes

    def drain() -> None:
        runner.run_source(source, table, available_now=True)

    def apply_direct(path: str) -> None:
        env = ctx.spark.read.schema(datagen.ENVELOPE_DDL).json(path)
        ups, dels = pipeline.transform_and_dedup(env, table, ["o_orderkey"])
        pipeline.apply_cdc_changes(table, ups, dels, mode="merge-on-read")

    def key_frame(keys: list[int]):
        frame = ctx.spark.createDataFrame([(k,) for k in keys], "o_orderkey bigint")
        return surrogate_key(frame, ["o_orderkey"]).select("id_iceberg")

    def lookup_run(keys: list[int]):
        df = table.lookup(key_frame(keys))
        materialize(df)
        return df

    def reads(after: str, lookup: bool) -> None:
        """A 16-key lookup (checked against the replay), a filtered scan
        and a full read aggregate, all through the noop sink."""
        if lookup:
            # mostly live keys, some deleted or never-written ones
            keys = [model.live[int(j)] for j in rng.integers(0, len(model.live), 14)]
            keys += [int(k) for k in rng.integers(0, model.next_key + 1000, 2)]
            df = op(f"lookup_after_{after}", lookup_run, keys, span="lookup.run")
            got = {r.o_orderkey: r.o_orderpriority
                   for r in df.select("o_orderkey", "o_orderpriority").collect()}
            lookup_ok.append(got == {k: model.rows[k][5] for k in keys if k in model.rows})
        lo = float(rng.uniform(1000, 450_000))
        flt = [("o_totalprice", ">=", lo), ("o_totalprice", "<", lo + 50_000.0)]
        op(f"scan_after_{after}", lambda: materialize(table.scan(flt)), span="scan.run")
        op(f"read_after_{after}", lambda: materialize(table.read().groupBy("o_orderstatus").agg(
            F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))), span="read.run")
        if ctx.tracer.on:
            eras.append(sum(len(v) for v in table.snapshot().deletes.values()))
            scan_reports.append(table.scan_report(flt))

    def cycle() -> None:
        land("stream")
        drain_traced.append(ctx.tracer.on)
        write("drain", drain)
        reads("cow", lookup=False)
        write("commit_mor", apply_direct, land("direct"))
        # point lookups are costlier than the scans; one per cycle, where
        # the delete era makes them pay the anti-join
        reads("mor", lookup=True)
        write("fold", table.rewrite_position_delete_files)

    cycle()  # warm-up
    res.setup_s = time.perf_counter() - t0 - extra
    kinds.clear()
    cpu.clear()
    writes.clear()
    for i in range(ctx.units(CYCLE_NOMINAL_S)):
        ctx.tracer.unit(ctx.traced_unit(i), cycle)
    # CPU of the operations, not of the benchmark's bookkeeping between them
    res.timed_cpu_s = sum(sum(v) for v in cpu.values())
    # a drain's CPU holds its one micro-batch plus the stream's start and
    # stop: the cost of a CoW commit through the runner
    res.op_cpu = {"commit_cow": cpu["drain"], "commit_mor": cpu["commit_mor"]}

    def maintain() -> None:
        table.rewrite_data_files()
        table.expire_snapshots(keep_last=1)

    ctx.tracer.unit(ctx.trace, op, "maint", maintain, paired=False)
    _wait_for(lambda: len(progress) >= files["stream"], 30)
    ctx.spark.streams.removeListener(listener)
    # a stream batch's latency is Spark's triggerExecution: from trigger
    # start to the committed snapshot and offsets (freshness)
    batches = sorted(progress)[1:]
    kinds["commit_cow"] = [d for _, d, _ in batches]
    # the drain wall holds its batch's commit; the closing maintenance is
    # wall time but not an operation sample
    res.ops = [w for k, v in kinds.items() if k not in ("drain", "maint") for w in v]
    res.primary = kinds["commit_cow"] + kinds["commit_mor"]
    res.timed_s = sum(sum(v) for k, v in kinds.items() if k != "commit_cow")
    res.items = (files["stream"] + files["direct"] - 2) * BATCH_EVENTS
    res.attempted = len(res.ops) + len(lookup_ok)

    res.gates["table_equals_replay"] = _table_state_gate(table, model)
    res.gates["fsck_clean"] = bool(table.fsck().get("ok"))
    # counted by Spark's own progress events: a stale checkpoint that
    # drains nothing cannot read as fast
    res.gates["stream_events_applied"] = sum(n for _, _, n in progress) == files["stream"] * BATCH_EVENTS
    res.gates["lookups_match_replay"] = all(lookup_ok)

    res.layer.update(_cdc_layer(ctx, table, model, kinds, writes))
    res.layer.update({
        "tables.live_eras": statistics.fmean(eras) if eras else 0.0,
        "tables.dirs_read": statistics.fmean(r["read_dirs"] for r in scan_reports) if scan_reports else 0.0,
        "tables.dirs_pruned": statistics.fmean(r["pruned_dirs"] for r in scan_reports) if scan_reports else 0.0,
        "streaming.batches": float(len(batches)),
    })
    if ctx.trace:
        # batch wall (triggerExecution) minus the cdc/tables spans the
        # batch body ran, per traced batch
        traced = [d for (_, d, _), on in zip(batches, drain_traced[1:]) if on]
        tr = ctx.tracer
        inner = sum(s.dur for s in tr.spans if s.layer in ("cdc", "tables") and s.parent >= 0
                    and tr.spans[s.parent].layer == "streaming")
        res.layer["streaming.batch_overhead_s"] = (sum(traced) - inner) / len(traced) if traced else 0.0
    return res


def _cdc_layer(ctx: Ctx, table, model, kinds, writes) -> dict[str, float]:
    tr = ctx.tracer
    snap = table.snapshot()
    live = max(1, len(model.rows))
    row_bytes = sum(harness.dir_bytes(os.path.join(table.location, d))
                    for d in snap.all_dirs() if not d.startswith("/")) / live
    commits = [writes[k] for k in ("drain", "commit_mor")]
    n_commits = sum(c[0] for c in commits)
    changed = model.keys_per_batch * n_commits * row_bytes
    med = {k: statistics.median(v) if v else 0.0 for k, v in kinds.items()}
    return {
        "streaming.drain_s": tr.mean_s("streaming", "run_source"),
        "cdc.events_in": float(BATCH_EVENTS),
        "cdc.keys_out": model.keys_per_batch,
        "cdc.dedup_ratio": model.keys_per_batch / BATCH_EVENTS,
        "cdc.transform_s": sum(s.self_s for s in tr.ops("cdc", "transform"))
        / max(1, len(tr.ops("cdc", "apply"))),
        "cdc.commit_cow_s": med.get("commit_cow", 0.0),
        "cdc.commit_mor_s": med.get("commit_mor", 0.0),
        "tables.merge_s": tr.mean_s("tables", "merge"),
        "tables.delete_keys_s": tr.mean_s("tables", "delete_keys"),
        "tables.snapshot_s": tr.mean_s("tables", "snapshot"),
        "tables.buckets_touched": sum(c[1] for c in commits) / max(1, n_commits),
        "tables.bytes_added": sum(c[2] for c in commits) / max(1, n_commits),
        "tables.write_amp": sum(c[2] for c in commits) / changed if changed else 0.0,
        # every byte under the table location: old versions and metadata too
        "tables.stored_bytes_per_row": harness.dir_bytes(table.location) / live,
        "tables.lookup_s": tr.mean_s("tables", "lookup.run"),
        "tables.scan_plan_s": tr.mean_s("tables", "scan"),
        # filtered scan + full read, on a folded table and with one era
        "tables.read_after_cow_s": med.get("scan_after_cow", 0.0) + med.get("read_after_cow", 0.0),
        "tables.read_after_mor_s": med.get("scan_after_mor", 0.0) + med.get("read_after_mor", 0.0),
        "tables.maint_s": med.get("maint", 0.0),
        "tables.fold_s": med.get("fold", 0.0),
        "tables.compact_s": tr.mean_s("tables", "rewrite_data_files"),
        "tables.expire_s": tr.mean_s("tables", "expire_snapshots"),
        "tables.bytes_rewritten": writes["fold"][2] / max(1, writes["fold"][0]),
    }


# ------------------------------------------------------------- queries


def _oracle_gate(spark_rows, cols, con, sql) -> bool:
    from decimal import Decimal

    def norm(v):
        if isinstance(v, (Decimal, int, float)) and not isinstance(v, bool):
            f = float(v)
            return ("nan",) if math.isnan(f) else ("num", f)
        if hasattr(v, "isoformat"):
            return ("ts", (v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v).isoformat())
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    def canon(rows, names):
        order = sorted(range(len(names)), key=lambda i: names[i])
        return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)

    res = con.execute(sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    return sorted(cols) == sorted(d_cols) and canon(spark_rows, cols) == canon(d_rows, d_cols)


def query_mix(ctx: Ctx) -> Result:
    import duckdb

    import __spark_entry__ as entry

    res = Result()
    t0 = time.perf_counter()
    sf_dir = ctx.path("fixture")
    rows, gen_med, gen_total = harness.repeated(SETUP_REPEATS, datagen.write_fixture,
                                                sf_dir, ctx.seed, QUERY_SF)
    extra = gen_total - gen_med
    res.layer["ingest.rows"] = float(sum(rows.values()))
    fns, sqls = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    # warm-up pass doubles as the correctness gate: the same builders,
    # collected and compared with their DuckDB oracles
    for name in QUERY_MIX:
        df = fns[name](ctx.spark, sf_dir)
        res.gates[f"oracle.{name}"] = _oracle_gate(df.collect(), df.columns, con, sqls[name])
    con.close()
    res.setup_s = time.perf_counter() - t0 - extra

    rng = np.random.default_rng([ctx.seed, 4])
    per_query: dict[str, list[float]] = {n: [] for n in QUERY_MIX}
    build: list[float] = []
    plan: list[float] = []

    def one(name: str) -> float:
        from .trace import query_plan_ms

        c0 = harness.tree_cpu_s()
        t = time.perf_counter()
        df = ctx.tracer.span("queries", name, fns[name], ctx.spark, sf_dir)
        b = time.perf_counter() - t
        if ctx.tracer.on:
            build.append(b)
            plan.append(query_plan_ms(df))
        ctx.tracer.span("queries", f"{name}.run", materialize, df)
        wall = time.perf_counter() - t
        res.op_cpu.setdefault(name, []).append(harness.tree_cpu_s() - c0)
        return wall

    def pass_(order) -> list[float]:
        return [one(QUERY_MIX[k]) for k in order]

    passes: list[float] = []
    for i in range(ctx.units(PASS_NOMINAL_S)):
        order = rng.permutation(len(QUERY_MIX))
        lat, wall = ctx.tracer.unit(ctx.traced_unit(i), pass_, order)
        for k, s in zip(order, lat):
            per_query[QUERY_MIX[k]].append(s)
        res.ops += lat
        res.primary += lat
        passes.append(wall)
        res.timed_s += wall
    res.timed_cpu_s = sum(sum(v) for v in res.op_cpu.values())
    res.items = len(res.ops)
    res.attempted = len(res.ops) + len(QUERY_MIX)
    res.layer["queries.pass_s"] = statistics.median(passes)
    res.layer["queries.build_s"] = statistics.fmean(build) if build else 0.0
    res.layer["queries.plan_ms"] = statistics.fmean(plan) if plan else 0.0
    for n in QUERY_MIX:
        res.layer[f"queries.{n}_s"] = statistics.median(per_query[n])
    return res


WORKLOADS = {"cdc_mixed": cdc_mixed, "query_mix": query_mix}
