"""The three benchmark workloads. Each is a single-client closed loop on one
SparkSession: the next operation starts when the previous one returns.

Every workload has ``prepare`` (input generation, outside both set-up and
the timed loop) and ``run`` (warm-up, then the timed loop until the run's
deadline, then correctness checks outside the timed region). ``run``
returns a ``Result``; the generic end-to-end metrics every workload reports
are

* ``op_p50_s``   median of the workload's headline operation,
* ``read_p50_s`` median of one analyst read,
* ``stored_bytes_per_row``,

plus the workload's own named metrics in ``named`` and the per-layer
metrics of a traced run in ``layers``.
"""

from __future__ import annotations

import datetime
import math
import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
from stats import Ops, median, tail, tree_bytes
from spans import Tracer, inclusive_counts, self_times

STAR_MIX = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q18_big_orders",
    "ref_group_count_max",
    "ref_dup_detect",
    "ref_null_profile",
    "ref_latest_per_key",
    "ref_top_n_recent",
    "emb_ann_lsh",
    "emb_cosine_topk",
    "text_quality",
)
GOLD_READS = (
    "group_count_max",
    "dup_detect",
    "null_profile",
    "hour_agg",
    "latest_per_city",
)
CDC_READS = ("hour_counts", "dup_detect")
DUP_DETECT_SQL = (
    "SELECT city, fetched_at_utc, count(*) AS n FROM default.gold "
    "GROUP BY city, fetched_at_utc HAVING count(*) > 1"
)
DRAIN_TIMEOUT_S = 60

# The per-layer metrics a traced run reports, with units; a layer the
# workload never calls reports 0. BENCHMARK.json lists the same names.
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "cdc.drain_s": "s",
    "cdc.spark_jobs": "count",
    "cdc.rows_out_per_event": "ratio",
    "cdc.bronze_files_out": "count",
    "batch.run_s": "s",
    "batch.spark_tasks": "count",
    "batch.bronze_files_listed": "count",
    "batch.quarantine_frac": "ratio",
    "txn.commit_s": "s",
    "txn.live_files": "count",
    "sql_dml.route_s": "s",
    **{f"read.{k}_s": "s" for k in CDC_READS},
    **{
        f"query.{q}{suffix}": unit
        for q in STAR_MIX
        for suffix, unit in (("_s", "s"), ("_plan_s", "s"), ("_tasks", "count"))
    },
    "trace.op_p50_s": "s",
    "trace.overhead_frac": "ratio",
}
# Reported in addition by gold_upsert_read, which BENCHMARK.json leaves out
# of the gated workloads (see README.md).
GOLD_LAYERS: dict[str, str] = {
    "sql_dml.merge_self_s": "s",
    "sql_dml.spark_jobs": "count",
    "txn.merge_s": "s",
    "txn.files_rewritten": "count",
    "txn.bytes_written_per_update_byte": "ratio",
    "txn.scan_files_frac": "ratio",
    "txn.optimize_s": "s",
    "txn.optimize_bytes_rewritten": "B",
    "txn.commits_per_write": "ratio",
    **{f"read.{k}_s": "s" for k in GOLD_READS},
}


@dataclass
class Ctx:
    seed: int
    seconds: float
    work: str
    ops: Ops
    tracer: Tracer | None = None
    spark: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def set_op(self, op: str | None) -> None:
        if self.tracer:
            self.tracer.op = op


@dataclass
class Result:
    warmup_s: float
    op_samples: list[float]
    read_samples: list[float]
    stored_bytes_per_row: float
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    params: dict = field(default_factory=dict)


def _tail_named(named: dict, name: str, samples: list[float]) -> None:
    """Record the tail metric with its percentile and sample count; with
    fewer samples than the rule needs, record the sample count only."""
    t = tail(samples)
    if t is None:
        named[name] = (float("nan"), f"s (n={len(samples)}, too few for a tail)")
    else:
        p, v, n = t
        named[name] = (v, f"s (p{p:g}, n={n})")


def _sql_in_parts(parts) -> str:
    return " OR ".join(f"(dt = '{d}' AND hour = '{h}')" for d, h in parts)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


# ---------------------------------------------------------------------------
# cdc_hourly
# ---------------------------------------------------------------------------


class CdcHourly:
    """Hourly CDC-to-gold cycles: land one hour of envelopes, drain them to
    bronze with ``forward_cdc(available_now=True)``, reload every touched
    hour partition into gold with ``run_batch``, then run the analysts'
    per-hour verification read on gold through ``TxnSqlRouter``. The
    whole-table duplicate-detect read runs once, after the timed loop."""

    extra_layers: dict[str, str] = {}
    WARMUP_HOURS = 4

    def prepare(self, ctx: Ctx) -> None:
        self.params = gen.CdcParams()
        self.feed = gen.CdcHours(ctx.seed, self.params)
        # the first WARMUP_HOURS hours are the warm-up: cycle time keeps
        # falling for the first several cycles of a session (after a single
        # warm-up cycle the next ones still ran ~40% slow); timed hours are
        # generated when they are needed, outside the timer
        self.warmup = [self.feed.hour(i) for i in range(self.WARMUP_HOURS)]

    def run(self, ctx: Ctx) -> Result:
        from rxlan_aws_lakehouse_spark.pipeline import batch as batch_mod
        from rxlan_aws_lakehouse_spark.pipeline import load_gold, run_batch
        from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter
        from rxlan_aws_lakehouse_spark.streaming.cdc import forward_cdc
        from rxlan_aws_lakehouse_spark.txn import TxnTable

        spark = ctx.spark
        landing, bronze = ctx.path("landing"), ctx.path("bronze")
        ckpt, gold = ctx.path("checkpoint"), ctx.path("gold")
        staging = ctx.path("staging")
        for d in (landing, staging):
            os.makedirs(d, exist_ok=True)
        # the analysts' reads go through the SQL router, as `default.gold`:
        # a qualified name makes the router refresh its view to the newest
        # snapshot on every statement
        router = TxnSqlRouter(spark)
        router.register("gold", gold, persist=False)
        tr = ctx.tracer
        listed: list[int] = []
        if tr:
            tr.wrap(batch_mod, "write_gold", "pipeline.write_gold")
            tr.wrap(TxnTable, "overwrite_partitions", "txn.overwrite_partitions")
            tr.wrap(TxnTable, "commit", "txn.commit")
            orig_read = batch_mod.read_bronze

            def read_bronze(*a, **kw):
                df = orig_read(*a, **kw)
                t = time.perf_counter()
                listed.append(len(df.inputFiles()))
                tr.bookkeeping_s += time.perf_counter() - t
                return df

            batch_mod.read_bronze = read_bronze

        model: dict = {}
        invalid: dict = {}
        quarantined: dict = {}
        input_rows: dict = {}
        totals = {"events": 0, "useful": 0}
        cycles: list[dict] = []

        def count_files(root: str) -> int:
            """Data files under ``root``, without the sink's metadata log
            and checksum files."""
            n = 0
            for _d, dirs, files in os.walk(root):
                dirs[:] = [d for d in dirs if not d.startswith("_")]
                n += sum(1 for f in files if not f.startswith((".", "_")))
            return n

        def cycle(hour: gen.CdcHour, reads: dict[str, list[float]] | None) -> None:
            for name, body in hour.files:
                tmp = os.path.join(staging, name)
                with open(tmp, "wb") as f:
                    f.write(body)
                os.rename(tmp, os.path.join(landing, name))
            rec = {}
            files_before = count_files(bronze) if tr else 0
            t0 = time.perf_counter()
            with ctx.span("cdc.drain"):
                q = forward_cdc(spark, landing, bronze, ckpt, available_now=True)
                if not q.awaitTermination(DRAIN_TIMEOUT_S):
                    q.stop()
                    raise TimeoutError(f"CDC drain did not finish in {DRAIN_TIMEOUT_S} s")
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            t_drain = time.perf_counter()
            good = 0
            for dt, hr in hour.partitions():
                with ctx.span("pipeline.run_batch"):
                    m = run_batch(spark, bronze, gold, dt=dt, hour=hr)
                good += m.good_rows
                quarantined[(dt, hr)] = m.quarantined_rows
                input_rows[(dt, hr)] = m.input_rows
            t1 = time.perf_counter()
            rec.update(fresh=t1 - t0, drain=t_drain - t0, batch=t1 - t_drain, good=good)
            if tr:
                rec["drain_jobs"] = tr.group_counts(str(q.runId))[0]
                rec["bronze_files_out"] = count_files(bronze) - files_before
                rec["live_files"] = len(TxnTable(gold).files())
            for part, rows in hour.valid.items():
                model.update(rows)
            for part, n in hour.invalid.items():
                invalid[part] = invalid.get(part, 0) + n
            totals["events"] += hour.events
            totals["useful"] += hour.useful_rows
            cycles.append(rec)
            self._verify_hours(ctx, router, hour.partitions(), model, reads)

        t = time.perf_counter()
        ctx.set_op("warmup")
        for hour in self.warmup:
            ctx.ops.run(f"cycle-{hour.index}", lambda: cycle(hour, None))
        warmup_s = time.perf_counter() - t
        cycles.clear()
        listed.clear()

        reads: list[float] = []
        deadline = time.perf_counter() + ctx.seconds
        i = self.WARMUP_HOURS
        while time.perf_counter() < deadline:
            hour = self.feed.hour(i)
            ctx.set_op(f"cycle-{i}")
            ctx.ops.run(f"cycle-{i}", lambda: cycle(hour, reads))
            i += 1
        ctx.set_op(None)
        if tr:
            tr.unwrap_all()
            batch_mod.read_bronze = orig_read

        # -- correctness, outside the timed region ----------------------
        got = load_gold(spark, gold).selectExpr(*gen.MODEL_COLUMNS).collect()
        live = len(got)
        ctx.ops.verify(
            "gold == model",
            lambda: live == len(model)
            and gen.rows_hash(tuple(r) for r in got) == gen.rows_hash(model.values()),
        )
        ctx.ops.verify(
            "quarantine == generator invalid",
            lambda: sum(quarantined.values()) == sum(invalid.values()),
        )
        bronze_rows = spark.read.text(bronze).count()  # one NDJSON line per row
        ctx.ops.verify("bronze rows == distinct inserts", lambda: bronze_rows == totals["useful"])
        dup_s: list[float] = []
        self._read(ctx, router, "dup_detect", DUP_DETECT_SQL, lambda rows: rows == [], dup_s)

        fresh = [c["fresh"] for c in cycles]
        res = Result(
            warmup_s=warmup_s,
            op_samples=fresh,
            read_samples=reads,
            stored_bytes_per_row=tree_bytes(gold) / max(1, live),
            params=gen.params_record(self.params),
        )
        res.named["freshness_p50_s"] = (median(fresh), f"s (n={len(fresh)})")
        _tail_named(res.named, "freshness_tail_s", fresh)
        res.named["ingest_rows_per_s"] = (
            sum(c["good"] for c in cycles) / max(1e-9, sum(fresh)),
            "rows/s",
        )
        res.named["stored_bytes_per_row"] = (res.stored_bytes_per_row, "B/row")
        if tr:
            self._layers(tr, res, cycles, listed, bronze_rows / max(1, totals["events"]), quarantined, input_rows)
            res.layers["read.hour_counts_s"] = median(reads)
            res.layers["read.dup_detect_s"] = median(dup_s)
        return res

    @staticmethod
    def _read(ctx, router, kind: str, sql: str, check, samples: list[float] | None) -> None:
        """One analyst read through ``TxnSqlRouter.sql``, run to its rows;
        its time goes to ``samples`` when given."""

        def read():
            with ctx.span(f"read.{kind}"):
                t = time.perf_counter()
                with ctx.span("sql_dml.sql", kind=kind):
                    df = router.sql(sql)
                rows = df.collect()
                d = time.perf_counter() - t
            if samples is not None:
                samples.append(d)
            return rows

        ctx.ops.run(f"read.{kind}", read, check)

    @classmethod
    def _verify_hours(cls, ctx, router, parts, model, samples) -> None:
        """The analysts' verification SQL after a load: count and newest
        row of each hour just loaded."""
        expect: dict = {}
        for city, fat, *_ in model.values():
            key = (fat[:10], fat[11:13])
            if key in parts:
                n, mx = expect.get(key, (0, ""))
                expect[key] = (n + 1, max(mx, fat))
        sql = (
            "SELECT dt, hour, count(*) AS n, max(fetched_at_utc) AS mx "
            f"FROM default.gold WHERE {_sql_in_parts(parts)} GROUP BY dt, hour"
        )
        cls._read(
            ctx,
            router,
            "hour_counts",
            sql,
            lambda rows: {(r.dt, r.hour): (r.n, r.mx) for r in rows} == expect,
            samples,
        )

    @staticmethod
    def _layers(tr, res, cycles, listed, rows_per_event, quarantined, input_rows) -> None:
        spans = tr.spans
        incl = inclusive_counts(spans)
        timed = [s for s in spans if s.op not in (None, "warmup")]
        by_op: dict[str, dict[str, float]] = {}
        for s in timed:
            d = by_op.setdefault(s.op, {})
            d[s.name] = d.get(s.name, 0.0) + s.dur
            if s.name == "pipeline.run_batch":
                d["tasks"] = d.get("tasks", 0) + incl[s.id][2]
        per = list(by_op.values())
        L = res.layers
        L["cdc.drain_s"] = median(c["drain"] for c in cycles)
        L["cdc.spark_jobs"] = median(c["drain_jobs"] for c in cycles)
        L["cdc.rows_out_per_event"] = rows_per_event
        L["cdc.bronze_files_out"] = median(c["bronze_files_out"] for c in cycles)
        L["batch.run_s"] = median(d.get("pipeline.run_batch", 0.0) for d in per)
        L["batch.spark_tasks"] = median(d.get("tasks", 0) for d in per)
        L["batch.bronze_files_listed"] = median(listed) if listed else 0.0
        L["batch.quarantine_frac"] = sum(quarantined.values()) / max(1, sum(input_rows.values()))
        L["txn.commit_s"] = median(d.get("txn.overwrite_partitions", 0.0) for d in per)
        L["txn.live_files"] = median(c["live_files"] for c in cycles)
        L["sql_dml.route_s"] = median(
            s.dur for s in spans if s.name == "sql_dml.sql" and s.op not in (None, "warmup")
        )


# ---------------------------------------------------------------------------
# gold_upsert_read
# ---------------------------------------------------------------------------

MERGE_SQL = (
    "MERGE INTO gold t USING upd s "
    "ON t.city = s.city AND t.fetched_at_utc = s.fetched_at_utc "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)


def _gold_read_sql(kind: str, part: tuple[str, str]) -> str:
    return {
        "group_count_max": (
            "SELECT dt, hour, count(*) AS n, max(fetched_at_utc) AS mx "
            "FROM gold GROUP BY dt, hour"
        ),
        "dup_detect": (
            "SELECT city, fetched_at_utc, count(*) AS n FROM gold "
            "GROUP BY city, fetched_at_utc HAVING count(*) > 1"
        ),
        "null_profile": (
            "SELECT count(*) AS n, "
            "sum(CASE WHEN city IS NULL THEN 1 ELSE 0 END) AS null_city, "
            "sum(CASE WHEN temp_c IS NULL THEN 1 ELSE 0 END) AS null_temp_c, "
            "sum(CASE WHEN humidity IS NULL THEN 1 ELSE 0 END) AS null_humidity, "
            "sum(CASE WHEN pressure IS NULL THEN 1 ELSE 0 END) AS null_pressure, "
            "sum(CASE WHEN wind_speed IS NULL THEN 1 ELSE 0 END) AS null_wind_speed "
            "FROM gold"
        ),
        "hour_agg": (
            "SELECT city, count(*) AS n, sum(temp_c) AS s, max(humidity) AS mh "
            f"FROM gold WHERE dt = '{part[0]}' AND hour = '{part[1]}' GROUP BY city"
        ),
        "latest_per_city": (
            "SELECT city, fetched_at_utc, temp_c FROM (SELECT city, fetched_at_utc, "
            "temp_c, row_number() OVER (PARTITION BY city ORDER BY fetched_at_utc "
            "DESC) AS rn FROM gold) WHERE rn = 1"
        ),
    }[kind]


def _gold_expected(model: dict, part: tuple[str, str]) -> dict:
    """What each read must return on a table equal to ``model``."""
    groups: dict = {}
    hour: dict = {}
    latest: dict = {}
    for city, fat, temp, _feels, hum, _pres, _wind in model.values():
        key = (fat[:10], fat[11:13])
        n, mx = groups.get(key, (0, ""))
        groups[key] = (n + 1, max(mx, fat))
        if key == part:
            n, s, mh = hour.get(city, (0, 0.0, -1))
            hour[city] = (n + 1, s + temp, max(mh, hum))
        if city not in latest or fat > latest[city][0]:
            latest[city] = (fat, temp)
    return {"groups": groups, "hour": hour, "latest": latest, "n": len(model)}


def _gold_check(kind: str, rows, exp: dict) -> bool:
    if kind == "group_count_max":
        return {(r.dt, r.hour): (r.n, r.mx) for r in rows} == exp["groups"]
    if kind == "dup_detect":
        return rows == []
    if kind == "null_profile":
        r = rows[0]
        return r.n == exp["n"] and all(v == 0 for k, v in r.asDict().items() if k != "n")
    if kind == "hour_agg":
        got = {r.city: (r.n, r.s, r.mh) for r in rows}
        want = exp["hour"]
        return got.keys() == want.keys() and all(
            got[c][0] == want[c][0] and _close(got[c][1], want[c][1]) and got[c][2] == want[c][2]
            for c in want
        )
    got = {r.city: (r.fetched_at_utc, r.temp_c) for r in rows}
    return got == exp["latest"]


class GoldUpsertRead:
    """MERGE INTO a gold txn table beside analyst reads of the same table,
    with an OPTIMIZE every few merges."""

    extra_layers = GOLD_LAYERS

    def prepare(self, ctx: Ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.params = gen.GoldParams()
        self.traffic = gen.GoldTraffic(ctx.seed, self.params)
        cols = list(zip(*self.traffic.seed_rows))
        arrays = []
        for (name, typ), values in zip(gen.GOLD_COLUMNS, cols):
            pa_type = {
                "string": pa.string(),
                "double": pa.float64(),
                "int": pa.int32(),
                "timestamp": pa.timestamp("us", tz="UTC"),
            }[typ]
            if typ == "timestamp":
                values = [v.replace(tzinfo=datetime.timezone.utc) for v in values]
            arrays.append(pa.array(values, pa_type))
        self.seed_path = ctx.path("seed.parquet")
        pq.write_table(pa.table(arrays, names=[n for n, _ in gen.GOLD_COLUMNS]), self.seed_path)
        self.batches = {}

    def run(self, ctx: Ctx) -> Result:
        from rxlan_aws_lakehouse_spark.pipeline import write_gold
        from rxlan_aws_lakehouse_spark.sql_dml import TxnSqlRouter
        from rxlan_aws_lakehouse_spark.txn import TxnTable

        spark = ctx.spark
        tr = ctx.tracer
        root = ctx.path("gold")
        p = self.params
        rng = random.Random(ctx.seed)
        traffic = self.traffic
        hours = sorted({(r[14], r[15]) for r in traffic.seed_rows})
        if tr:
            tr.wrap(TxnTable, "merge_upsert", "txn.merge")
            tr.wrap(TxnTable, "compact", "txn.compact")
            tr.wrap(TxnTable, "commit", "txn.commit")
        table = TxnTable(root)
        merges: list[float] = []
        reads: dict[str, list[float]] = {k: [] for k in GOLD_READS}
        optimizes: list[float] = []
        layer: dict[str, list[float]] = {
            k: []
            for k in (
                "files_rewritten",
                "bytes_per_update_byte",
                "live_files",
                "scan_files_frac",
                "optimize_bytes",
            )
        }

        def entries():
            return table.file_entries() if tr else {}

        def written(before: dict, after: dict) -> tuple[int, int]:
            new = [r for r in after if r not in before]
            return len([r for r in before if r not in after]), sum(after[r]["bytes"] for r in new)

        def merge(k: int, timed: bool) -> None:
            batch = traffic.batch(k)
            spark.createDataFrame(batch, gen.GOLD_DDL).createOrReplaceTempView("upd")
            before = entries()
            row_bytes = sum(e["bytes"] for e in before.values()) / max(1, len(traffic.model))
            t = time.perf_counter()
            with ctx.span("sql_dml.sql", kind="merge"):
                router.sql(MERGE_SQL).collect()
            dt = time.perf_counter() - t
            traffic.apply(batch)
            if timed:
                merges.append(dt)
                if tr:
                    after = entries()
                    rewritten, nbytes = written(before, after)
                    layer["files_rewritten"].append(rewritten)
                    layer["bytes_per_update_byte"].append(nbytes / max(1.0, len(batch) * row_bytes))
                    layer["live_files"].append(len(after))

        def read(kind: str, part: tuple[str, str], exp: dict, timed: bool) -> None:
            sql = _gold_read_sql(kind, part)

            def go():
                with ctx.span(f"read.{kind}"):
                    t = time.perf_counter()
                    rows = router.sql(sql).collect()
                    d = time.perf_counter() - t
                if timed:
                    reads[kind].append(d)
                return rows

            ctx.ops.run(f"read.{kind}", go, lambda rows: _gold_check(kind, rows, exp))
            if tr and timed and kind == "hour_agg":
                kept, total = table.pruned_files([("dt", "=", part[0]), ("hour", "=", part[1])])
                layer["scan_files_frac"].append(len(kept) / max(1, total))

        def rounds():
            """The timed operations in order: a merge, the five reads on a
            seeded hour, and an OPTIMIZE every ``optimize_period`` merges."""
            k = 1
            while True:
                ctx.set_op(f"round-{k}")
                yield lambda k=k: ctx.ops.run(f"merge-{k}", lambda: merge(k, True))
                part = hours[rng.randrange(len(hours))]
                exp = _gold_expected(traffic.model, part)
                for kind in GOLD_READS:
                    yield lambda kind=kind: read(kind, part, exp, True)
                if k % p.optimize_period == 0:
                    yield lambda k=k: ctx.ops.run(f"optimize-{k}", optimize)
                k += 1

        def optimize() -> None:
            before = entries()
            t = time.perf_counter()
            with ctx.span("sql_dml.sql", kind="optimize"):
                router.sql("OPTIMIZE gold").collect()
            optimizes.append(time.perf_counter() - t)
            if tr:
                after = entries()
                layer["optimize_bytes"].append(written(before, after)[1])
                layer["live_files"].append(len(after))

        # -- set-up: seed commit, registration, one warm-up round ----------
        t = time.perf_counter()
        ctx.set_op("warmup")
        with ctx.span("pipeline.write_gold"):
            write_gold(spark.read.parquet(self.seed_path).selectExpr(
                *[f"CAST({n} AS {ty}) AS {n}" for n, ty in gen.GOLD_COLUMNS]
            ), root)
        router = TxnSqlRouter(spark)
        router.register("gold", root)
        ctx.ops.run("merge-0", lambda: merge(0, False))
        read(GOLD_READS[0], hours[0], _gold_expected(traffic.model, hours[0]), False)
        warmup_s = time.perf_counter() - t

        # the deadline is checked before every operation, not every round
        deadline = time.perf_counter() + ctx.seconds
        for op in rounds():
            if time.perf_counter() >= deadline:
                break
            op()
        ctx.set_op(None)
        if tr:
            tr.unwrap_all()

        # -- correctness, outside the timed region ----------------------
        got = table.read(spark).selectExpr(*gen.MODEL_COLUMNS).collect()
        live = len(got)
        ctx.ops.verify(
            "gold == last-writer-wins model",
            lambda: live == len(traffic.model)
            and gen.rows_hash(tuple(r) for r in got) == gen.rows_hash(traffic.model.values()),
        )
        all_reads = [x for v in reads.values() for x in v]
        res = Result(
            warmup_s=warmup_s,
            op_samples=merges,
            read_samples=all_reads,
            stored_bytes_per_row=tree_bytes(root) / max(1, live),
            params=gen.params_record(p),
        )
        res.named["merge_p50_s"] = (median(merges), f"s (n={len(merges)})")
        res.named["read_p50_s"] = (median(all_reads), f"s (n={len(all_reads)})")
        _tail_named(res.named, "read_tail_s", all_reads)
        res.named["stored_bytes_per_row"] = (res.stored_bytes_per_row, "B/row")
        if tr:
            L = res.layers
            spans = tr.spans
            selfs = self_times(spans)
            timed = [s for s in spans if s.op not in (None, "warmup")]
            msql = [s for s in timed if s.name == "sql_dml.sql" and s.attrs.get("kind") == "merge"]
            L["sql_dml.merge_self_s"] = median(selfs[s.id] for s in msql)
            L["sql_dml.spark_jobs"] = median(s.jobs for s in msql)
            L["txn.merge_s"] = median(s.dur for s in timed if s.name == "txn.merge")
            L["txn.files_rewritten"] = median(layer["files_rewritten"])
            L["txn.bytes_written_per_update_byte"] = median(layer["bytes_per_update_byte"])
            L["txn.live_files"] = median(layer["live_files"])
            L["txn.scan_files_frac"] = median(layer["scan_files_frac"])
            L["txn.optimize_s"] = median(optimizes)
            L["txn.optimize_bytes_rewritten"] = median(layer["optimize_bytes"])
            writes = len(msql) + len(optimizes)
            L["txn.commits_per_write"] = (
                sum(1 for s in timed if s.name == "txn.commit") / max(1, writes)
            )
            for kind in GOLD_READS:
                L[f"read.{kind}_s"] = median(reads[kind])
        return res


# ---------------------------------------------------------------------------
# star_analytics
# ---------------------------------------------------------------------------


class StarAnalytics:
    """A fixed read-only mix over a generated star schema, through the
    program's query registry; each query is planned and run to a pandas
    result, in a seed-shuffled order per pass."""

    extra_layers: dict[str, str] = {}
    WARMUP_PASSES = 2

    def prepare(self, ctx: Ctx) -> None:
        self.params = gen.StarParams()
        self.sf_dir = ctx.path("star")
        self.rows = gen.write_star(self.sf_dir, ctx.seed, self.params)

    def run(self, ctx: Ctx) -> Result:
        import __spark_entry__ as entry

        spark = ctx.spark
        registry = entry.queries()
        rng = random.Random(ctx.seed)
        times: dict[str, list[float]] = {q: [] for q in STAR_MIX}
        plans: dict[str, list[float]] = {q: [] for q in STAR_MIX}
        last: dict = {}

        def one(name: str, timed: bool) -> float:
            def go():
                with ctx.span(f"query.{name}"):
                    t0 = time.perf_counter()
                    with ctx.span("query.plan"):
                        df = registry[name](spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with ctx.span("query.run"):
                        pdf = df.toPandas()
                    t2 = time.perf_counter()
                return pdf, t1 - t0, t2 - t0

            out = ctx.ops.run(f"query.{name}", go)
            # a query may persist intermediate frames; drop them so every
            # pass pays each query's full cost
            spark.catalog.clearCache()
            if out is None:
                return 0.0
            pdf, plan_s, total_s = out
            last[name] = pdf
            if timed:
                times[name].append(total_s)
                plans[name].append(plan_s)
            return total_s

        def one_pass(timed: bool) -> float:
            order = list(STAR_MIX)
            rng.shuffle(order)
            return sum(one(q, timed) for q in order)

        # pass time keeps falling over the first passes of a session; two
        # untimed passes take most of that out of the timed ones
        t = time.perf_counter()
        ctx.set_op("warmup")
        for _ in range(self.WARMUP_PASSES):
            one_pass(False)
        warmup_s = time.perf_counter() - t

        passes: list[float] = []
        deadline = time.perf_counter() + ctx.seconds
        while time.perf_counter() < deadline:
            ctx.set_op(f"pass-{len(passes) + 1}")
            passes.append(one_pass(True))
        ctx.set_op(None)

        # -- correctness: each query against its DuckDB oracle, once -----
        self._check_oracles(ctx, entry.oracle_sql(), last)

        all_q = [x for v in times.values() for x in v]
        in_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f)) for f in os.listdir(self.sf_dir)
        )
        res = Result(
            warmup_s=warmup_s,
            op_samples=passes,
            read_samples=all_q,
            stored_bytes_per_row=in_bytes / max(1, sum(self.rows.values())),
            params=gen.params_record(self.params),
        )
        res.named["mix_pass_p50_s"] = (median(passes), f"s (n={len(passes)})")
        _tail_named(res.named, "query_tail_s", all_q)
        if ctx.tracer:
            incl = inclusive_counts(ctx.tracer.spans)
            tasks: dict[str, list[int]] = {q: [] for q in STAR_MIX}
            for s in ctx.tracer.spans:
                if s.op not in (None, "warmup") and s.name.startswith("query.") and s.parent is None:
                    tasks[s.name[len("query."):]].append(incl[s.id][2])
            for q in STAR_MIX:
                res.layers[f"query.{q}_s"] = median(times[q])
                res.layers[f"query.{q}_plan_s"] = median(plans[q])
                res.layers[f"query.{q}_tasks"] = median(tasks[q])
        return res

    def _check_oracles(self, ctx: Ctx, oracles: dict, last: dict) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
                )
            for name in STAR_MIX:
                ctx.ops.verify(
                    f"oracle.{name}",
                    lambda name=name: name in last
                    and same_result(last[name], con.execute(oracles[name]).fetchdf()),
                )
        finally:
            con.close()


def _decimals(x: float) -> int | None:
    """Decimal places ``repr(x)`` prints; None for exponent notation."""
    r = repr(x)
    return None if "e" in r or "n" in r else len(r.partition(".")[2])


def _float_eq(a: float, b: float) -> bool:
    """Equal within 1e-9 relative, or both rounded to the same number of
    decimal places (at least two) and one unit apart in the last of them:
    two engines that sum in a different order can land on opposite sides
    of a rounding boundary (seen: ``round(sum, 2)`` giving 1467968.33 on
    one and 1467968.34 on the other). 2.5 and 2.6 are not equal."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
        return True
    places = _decimals(a)
    if places is None or places < 2 or places != _decimals(b):
        return False
    return abs(a - b) <= 10.0**-places * (1 + 1e-6)


def same_result(spark_pdf, oracle_pdf) -> bool:
    """Same columns, row count and order-insensitive values: non-float
    cells compare by type and repr (the repository's oracle comparison),
    float cells by ``_float_eq``."""
    cols = sorted(spark_pdf.columns)
    if cols != sorted(oracle_pdf.columns) or len(spark_pdf) != len(oracle_pdf):
        return False

    def rows(pdf):
        out = []
        for _, r in pdf.iterrows():
            exact = tuple(
                f"{type(r[c]).__name__}:{r[c]!r}" for c in cols if not isinstance(r[c], float)
            )
            floats = tuple(float(r[c]) for c in cols if isinstance(r[c], float))
            out.append((exact, floats))
        return sorted(out, key=lambda t: (t[0], [(math.isnan(x), x) for x in t[1]]))

    for (ea, fa), (eb, fb) in zip(rows(spark_pdf), rows(oracle_pdf)):
        if ea != eb or len(fa) != len(fb) or not all(map(_float_eq, fa, fb)):
            return False
    return True


WORKLOADS = {
    "cdc_hourly": CdcHourly,
    "gold_upsert_read": GoldUpsertRead,
    "star_analytics": StarAnalytics,
}
