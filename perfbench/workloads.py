"""The four workloads.  Each one drives the program only through its
public functions and checks what comes out.

A workload has four phases per pass: ``prepare`` (untimed: lay out the
pass's inputs under a directory no earlier pass read), ``execute`` (the
timed pass), ``check`` (untimed output checks; raising counts the pass
as failed) and, in the traced run, ``layered`` (the pass split at layer
boundaries, each boundary materialised, returning per-layer numbers).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

perf = time.perf_counter


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def link_tree(src: str, dst: str) -> None:
    """Hard-link every file under ``src`` into ``dst``: the same bytes
    under a path this process has not read, so no cache keyed on the
    path can turn a pass into a no-op."""
    for dirpath, _dirs, names in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for n in names:
            os.link(os.path.join(dirpath, n), os.path.join(dst, rel, n))


def close_enough(a: float, b: float) -> bool:
    """Equal up to the 4-decimal rounding both engines apply to floats."""
    return abs(a - b) <= 1.01e-4 + 1e-12 * abs(b)


def parquet_rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


class Workload:
    name = ""
    record_kind = "records"  # what ``records`` counts per pass

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.records = 0

    def generate(self, index: int) -> None:
        """Write the inputs under a directory named by ``index``."""
        raise NotImplementedError

    def register(self, spark) -> None:
        pass

    def stop(self, spark) -> None:
        pass

    def cancel(self, spark) -> None:
        spark.sparkContext.cancelAllJobs()

    def prepare(self, i: int):
        raise NotImplementedError

    def execute(self, spark, ctx):
        raise NotImplementedError

    def check(self, spark, ctx, result) -> None:
        pass

    def check_once(self, spark, ctx, result) -> None:
        pass

    def cleanup(self, ctx) -> None:
        pass

    def layered(self, spark, i: int, tracer) -> dict[str, float]:
        raise NotImplementedError

    def pass_groups(self) -> list[str]:
        """Job-group prefixes that hold a plain pass's jobs."""
        return ["pass"]


# --------------------------------------------------------------- capture_kpi


def kpi_reference(con, table) -> dict:
    """36 KPIs per (slice, second) computed by DuckDB from the
    generator's own packet arrays, with the program's shared aggregate
    text (``kpi_aggregates(dialect="duckdb")``)."""
    from fiveg_spark.operators.kpi import IAT_EXPR, kpi_aggregates

    con.register("packets_raw", table)
    aggs = ",\n".join(kpi_aggregates(dialect="duckdb"))
    rows = con.execute(
        f"""
        WITH packets AS (SELECT *, make_timestamp(ts_us) AS ts FROM packets_raw),
        flows AS (SELECT *, {IAT_EXPR} FROM packets)
        SELECT slice, epoch_us(date_trunc('second', ts)) AS ws, {aggs}
        FROM flows GROUP BY slice, date_trunc('second', ts)
        """
    ).fetchdf()
    con.unregister("packets_raw")
    return {(r["slice"], int(r["ws"])): r for _, r in rows.iterrows()}


class CaptureKpi(Workload):
    """Batch Phase 2+3: pcap files -> decode -> canonical packets ->
    36 KPIs per (slice, 1 s window) -> parquet."""

    name = "capture_kpi"
    record_kind = "pkts"
    PACKETS = 120_000
    SECONDS = 60
    FILES_PER_SLICE = 2

    def generate(self, index: int) -> None:
        self.inputs = os.path.join(self.work, f"inputs{index}")
        self.capture = gen.gen_capture(self.seed, self.PACKETS, self.SECONDS)
        for key, cols in self.capture.items():
            os.makedirs(os.path.join(self.inputs, key), exist_ok=True)
            n = len(cols["sec"])
            bounds = np.linspace(0, n, self.FILES_PER_SLICE + 1).astype(int)
            for j in range(self.FILES_PER_SLICE):
                part = {c: v[bounds[j] : bounds[j + 1]] for c, v in cols.items()}
                with open(os.path.join(self.inputs, key, f"cap_{j:03d}.pcap"), "wb") as fh:
                    fh.write(gen.pcap_bytes(part))
        self.records = sum(len(c["sec"]) for c in self.capture.values())
        self.total_bytes = float(sum(c["orig_len"].sum() for c in self.capture.values()))
        self.windows = sum(len(np.unique(c["sec"])) for c in self.capture.values())

    def register(self, spark) -> None:
        from fiveg_spark.sources.pcap_datasource import register_pcap_source

        register_pcap_source(spark)

    def prepare(self, i: int):
        d = os.path.join(self.work, "passes", f"p{i}")
        link_tree(self.inputs, os.path.join(d, "in"))
        return d

    def pipeline(self, spark, src: str):
        from fiveg_spark.operators.kpi import kpi36_from_packets
        from fiveg_spark.sources.pcap import to_canonical_packets

        packets = to_canonical_packets(spark.read.format("pcap").load(src))
        return kpi36_from_packets(packets, window="second")

    def execute(self, spark, d):
        out = os.path.join(d, "kpi")
        self.pipeline(spark, os.path.join(d, "in")).write.parquet(out)
        return out

    def check(self, spark, d, out) -> None:
        t = pq.ParquetDataset(out).read(columns=["Total_Packets", "Total_Bytes"])
        expect(t.num_rows == self.windows, f"windows {t.num_rows} != {self.windows}")
        pk = int(t.column("Total_Packets").to_numpy().sum())
        expect(pk == self.records, f"packets {pk} != {self.records}")
        by = float(t.column("Total_Bytes").to_numpy().sum())
        expect(by == self.total_bytes, f"bytes {by} != {self.total_bytes}")

    def check_once(self, spark, d, out) -> None:
        from fiveg_spark.operators.kpi import kpi_aggregates

        con = duckdb.connect()
        ref = kpi_reference(con, gen.canonical_table(self.capture))
        got = con.execute(
            f"SELECT *, epoch_us(window_start) AS ws FROM read_parquet('{out}/*.parquet')"
        ).fetchdf()
        con.close()
        names = [e.rsplit(" AS ", 1)[1] for e in kpi_aggregates(dialect="duckdb")]
        expect(len(names) == 36, f"{len(names)} KPI columns, not 36")
        expect(len(got) == len(ref), f"{len(got)} windows, reference {len(ref)}")
        for _, r in got.iterrows():
            e = ref.get((r["slice"], int(r["ws"])))
            expect(e is not None, f"window {r['slice']} {r['ws']} not in reference")
            for c in names:
                expect(close_enough(float(r[c]), float(e[c])), f"{c}: {r[c]} != {e[c]}")

    def cleanup(self, d) -> None:
        shutil.rmtree(d, ignore_errors=True)

    def layered(self, spark, i: int, tracer) -> dict[str, float]:
        from fiveg_spark.operators.kpi import kpi36_from_packets, with_iat
        from fiveg_spark.sources.pcap import to_canonical_packets

        d = self.prepare(10_000 + i)
        src = os.path.join(d, "in")
        p = {k: os.path.join(d, k) for k in ("dec", "canon", "iat", "kpi", "sink")}
        rd = spark.read.parquet
        s = {}
        with tracer.layer("layer.decode", s, "decode.s"):
            spark.read.format("pcap").load(src).write.parquet(p["dec"])
        with tracer.layer("layer.canon", s, "canon.s"):
            to_canonical_packets(rd(p["dec"])).write.parquet(p["canon"])
        with tracer.layer("layer.iat", s, "iat.s"):
            with_iat(rd(p["canon"])).write.parquet(p["iat"])
        with tracer.layer("layer.kpi", s, "kpi36.s"):
            kpi36_from_packets(rd(p["canon"]), window="second").write.parquet(p["kpi"])
        with tracer.layer("layer.sink", s, "sink.s"):
            rd(p["kpi"]).write.parquet(p["sink"])
        decoded = parquet_rows(p["dec"])
        s["kpi_agg.s"] = s.pop("kpi36.s") - s["iat.s"]
        s["decode.pkts_per_s"] = decoded / s["decode.s"]
        s["decode.emitted_ratio"] = decoded / self.records
        s["kpi.windows_out"] = parquet_rows(p["kpi"])
        self.check(spark, d, p["sink"])
        self.cleanup(d)
        return s


# ----------------------------------------------------------------- kpi_stream


class KpiStream(Workload):
    """Structured Streaming: capture rounds land in per-slice
    directories; the stream decodes them and keeps per-flow IAT state
    and 1 s tumbling windows.  Closed loop: one round per pass."""

    name = "kpi_stream"
    record_kind = "pkts"
    ROUND_PACKETS = 1500
    ROUND_SECONDS = 3

    def generate(self, index: int) -> None:
        self.root = os.path.join(self.work, f"stream{index}")
        self.land = os.path.join(self.root, "land")
        for key in gen.SLICES:
            os.makedirs(os.path.join(self.land, key), exist_ok=True)
        self.rounds = []  # canonical tables of landed rounds
        self.records = self.ROUND_PACKETS

    def _round(self, r: int):
        return gen.gen_capture(
            self.seed * 100_003 + r,
            self.ROUND_PACKETS,
            self.ROUND_SECONDS,
            t_start=gen.T0 + r * self.ROUND_SECONDS,
            flow_seed=self.seed,
        )

    def register(self, spark) -> None:
        from fiveg_spark.sources.pcap import to_canonical_packets
        from fiveg_spark.sources.pcap_datasource import register_pcap_source
        from fiveg_spark.streaming.kpi_stream import streaming_kpi36

        register_pcap_source(spark)
        self.table = f"kpi_stream_{os.path.basename(self.root)}"
        packets = to_canonical_packets(spark.readStream.format("pcap").load(self.land))
        self.query = (
            streaming_kpi36(packets, window="1 second", watermark="0 seconds")
            .writeStream.format("memory")
            .queryName(self.table)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.root, "ckpt"))
            .start()
        )
        self.next_round = 0
        self.seen_batch = -1

    def stop(self, spark) -> None:
        self.query.stop()

    def cancel(self, spark) -> None:
        self.query.stop()

    def prepare(self, i: int):
        r = self.next_round
        self.next_round += 1
        cap = self._round(r)
        staged = []
        for key, cols in cap.items():
            final = os.path.join(self.land, key, f"r{r:06d}.pcap")
            with open(final + ".tmp", "wb") as fh:
                fh.write(gen.pcap_bytes(cols))
            staged.append(final)
        self.rounds.append(gen.canonical_table(cap))
        self.max_sec = int(max(c["sec"].max() for c in cap.values()))
        return staged

    def execute(self, spark, staged):
        for final in staged:
            os.replace(final + ".tmp", final)
        self.query.processAllAvailable()
        return None

    def check(self, spark, staged, _result) -> None:
        expect(self.query.exception() is None, f"stream failed: {self.query.exception()}")
        con = duckdb.connect()
        ref = kpi_reference(con, pa.concat_tables(self.rounds))
        con.close()
        # windows before the newest second are closed by the watermark
        closed = {k for k in ref if k[1] < self.max_sec * 1_000_000}
        got = {}
        for r in spark.table(self.table).collect():
            ws = int(r["window_start"].timestamp() * 1_000_000)
            got[(r["slice"], ws)] = r
        expect(set(got) == closed, f"{len(got)} windows emitted, {len(closed)} closed")
        exact = (
            "Total_Packets", "Total_Bytes", "Throughput_bps", "Min_Pkt_Size",
            "Max_Pkt_Size", "Min_IAT", "Max_IAT", "Transmission_Duration",
            "Idle_Periods", "Zero_Win_Count", "RST_Count", "Min_Win_Size", "Max_Win_Size",
        )
        for k, r in got.items():
            for c in exact:
                expect(close_enough(float(r[c]), float(ref[k][c])), f"{k} {c}: {r[c]} != {ref[k][c]}")

    def progress(self) -> list[dict]:
        new = []
        for p in self.query.recentProgress:
            p = p if isinstance(p, dict) else json.loads(p.json)
            if p["batchId"] > self.seen_batch:
                new.append(p)
        if new:
            self.seen_batch = max(p["batchId"] for p in new)
        return new

    def layered(self, spark, i: int, tracer) -> dict[str, float]:
        self.progress()  # drop batches from earlier passes
        staged = self.prepare(i)
        s = {}
        with tracer.layer("layer.stream", s, "stream.pass_s"):
            self.execute(spark, staged)
        batches = self.progress()
        dur = [b.get("durationMs", {}) for b in batches]
        for key, name in (
            ("latestOffset", "stream.latest_offset_ms"),
            ("queryPlanning", "stream.query_planning_ms"),
            ("addBatch", "stream.add_batch_ms"),
            ("walCommit", "stream.wal_commit_ms"),
        ):
            s[name] = float(sum(d.get(key, 0) for d in dur))
        ops = batches[-1]["stateOperators"] if batches else []
        s["stream.state_rows"] = float(sum(o.get("numRowsTotal", 0) for o in ops))
        s["stream.state_mem_bytes"] = float(sum(o.get("memoryUsedBytes", 0) for o in ops))
        s["stream.dropped_by_watermark"] = float(
            sum(o.get("numRowsDroppedByWatermark", 0) for b in batches for o in b["stateOperators"])
        )
        offsets = os.path.join(self.root, "ckpt", "offsets")
        newest = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
        s["stream.offset_bytes"] = float(os.path.getsize(os.path.join(offsets, newest)))
        self.check(spark, staged, None)
        return s

    def pass_groups(self) -> list[str]:
        # micro-batch jobs carry the query's run id as their job group
        return [str(self.query.runId)]


# ------------------------------------------------------------------ forecast


class Forecast(Workload):
    """VAR-GRU-TFT hybrid evaluation over an hourly series per slice."""

    name = "forecast"
    record_kind = "events"
    DAYS = 7  # hourly series length per slice: sequences, forward pass
    EVENTS_PER_HOUR = 60  # volume of the feature aggregation
    USERS = 300

    def generate(self, index: int) -> None:
        self.inputs = os.path.join(self.work, f"inputs{index}")
        os.makedirs(self.inputs, exist_ok=True)
        events = gen.gen_events(self.seed, self.DAYS, self.EVENTS_PER_HOUR, self.USERS)
        pq.write_table(events, os.path.join(self.inputs, "events.parquet"))
        self.records = events.num_rows
        self.first = None

    def prepare(self, i: int):
        d = os.path.join(self.work, "passes", f"p{i}")
        link_tree(self.inputs, d)
        return d

    def execute(self, spark, d):
        from fiveg_spark.ml.hybrid import hybrid_eval

        return hybrid_eval(spark, d).collect()

    def check(self, spark, d, rows) -> None:
        got = sorted((r["slice"], r["feature"], r["rmse"], r["mae"], r["n"]) for r in rows)
        expect(len(got) == 21, f"{len(got)} (slice, feature) rows, expected 3 x 7")
        for g in got:
            expect(math.isfinite(g[2]) and math.isfinite(g[3]), f"non-finite metric {g}")
            expect(g[4] > 0, f"no test rows for {g[:2]}")
        if self.first is None:
            self.first = got
        expect(got == self.first, "RMSE/MAE differ from the first pass")

    def cleanup(self, d) -> None:
        shutil.rmtree(d, ignore_errors=True)

    def layered(self, spark, i: int, tracer) -> dict[str, float]:
        from fiveg_spark.ml import hybrid
        from fiveg_spark.ml.model import init_weights, predict_residuals

        d = self.prepare(10_000 + i)
        s: dict[str, float] = {}
        # one real hybrid_eval pass, split where the program calls its
        # own public stages: jobs and wall time go to the stage that
        # was called last (lazy frames run at the next eager action)
        with tracer.segments(
            hybrid,
            [
                ("normal_equations", "ml.var", "var.s"),
                ("residual_frame", "ml.residuals", "residuals.s"),
                ("predict_residuals", "ml.tail", "eval.s"),
            ],
            first=("ml.features", "features.s"),
            into=s,
        ):
            rows = hybrid.hybrid_eval(spark, d).collect()
        self.check(spark, d, rows)
        # sequences and forward pass, each materialised on its own
        _resid, sequences, _params = hybrid.residual_pipeline(spark, d)
        seq_dir, fwd_dir = os.path.join(d, "seq"), os.path.join(d, "fwd")
        with tracer.layer("ml.sequences", s, "sequences.s"):
            sequences.write.parquet(seq_dir)
        weights = spark.sparkContext.broadcast(init_weights())
        with tracer.layer("ml.forward", s, "forward.s"):
            predict_residuals(spark.read.parquet(seq_dir), weights).write.parquet(fwd_dir)
        s["forward.seqs_per_s"] = parquet_rows(seq_dir) / s["forward.s"]
        self.cleanup(d)
        return s


# ----------------------------------------------------------------- query_mix

MIX = (
    "kpi36",
    "flow_iat_stats",
    "sessionize",
    "watermark_lateness_profile",
    "user_transfer_entropy",
    "bh_screened_mean_shifts",
    "q1_pricing_summary",
    "q3_shipping_priority",
)


class QueryMix(Workload):
    """The headline queries whose inputs are the events and TPC-H
    tables, each into a ``noop`` sink, in a seeded order per pass."""

    name = "query_mix"
    record_kind = "rows"
    DAYS = 10
    EVENTS_PER_HOUR = 200
    USERS = 700
    ORDERS = 5000

    def generate(self, index: int) -> None:
        self.inputs = os.path.join(self.work, f"inputs{index}")
        os.makedirs(self.inputs, exist_ok=True)
        tables = gen.gen_tpch(self.seed, self.ORDERS)
        tables["events"] = gen.gen_events(self.seed, self.DAYS, self.EVENTS_PER_HOUR, self.USERS)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(self.inputs, f"{name}.parquet"))
        self.records = sum(t.num_rows for t in tables.values())
        self.first = None

    def register(self, spark) -> None:
        import __spark_entry__ as contract

        registered = contract.queries()
        self.queries = {n: registered[n] for n in MIX}
        self.oracles = contract.oracle_sql()

    def prepare(self, i: int):
        d = os.path.join(self.work, "passes", f"p{i}")
        link_tree(self.inputs, d)
        order = np.random.default_rng([self.seed, i]).permutation(len(MIX))
        return d, [MIX[j] for j in order]

    @staticmethod
    def _observed(df, name: str):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(name)
        row_hash = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]), F.lit(2147483647))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("hash")), obs

    def execute(self, spark, ctx):
        d, order = ctx
        out = {}
        for name in order:
            df, obs = self._observed(self.queries[name](spark, d), name)
            df.write.format("noop").mode("overwrite").save()
            out[name] = obs
        return out

    def check(self, spark, ctx, out) -> None:
        got = {n: (o.get["rows"], o.get["hash"]) for n, o in out.items()}
        expect(set(got) == set(MIX), "a query did not run")
        if self.first is None:
            self.first = got
        for n in MIX:
            expect(got[n] == self.first[n], f"{n}: rows/hash {got[n]} != first pass {self.first[n]}")

    def check_once(self, spark, ctx, out) -> None:
        d, _order = ctx
        con = duckdb.connect()
        for t in ("events", "customer", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        for name in MIX:
            if name not in self.oracles:
                continue
            problems = compare_frames(
                self.queries[name](spark, d).toPandas(), con.execute(self.oracles[name]).fetchdf()
            )
            expect(not problems, f"{name} vs oracle: {problems}")
        con.close()

    def cleanup(self, ctx) -> None:
        shutil.rmtree(ctx[0], ignore_errors=True)

    def layered(self, spark, i: int, tracer) -> dict[str, float]:
        d, order = self.prepare(10_000 + i)
        s: dict[str, float] = {}
        out = {}
        for name in order:
            t0 = perf()
            with tracer.group(f"q.{name}.build"):
                df = self.queries[name](spark, d)
            s[f"q.{name}.build_s"] = perf() - t0
            # observed as in a plain pass, so the rows and hash are checked
            df, out[name] = self._observed(df, name)
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # runs optimisation and planning on this execution
            phases = qe.tracker().phases()
            plan_ms = 0
            for phase in ("analysis", "optimization", "planning"):
                got = phases.get(phase)
                if got.isDefined():
                    plan_ms += got.get().durationMs()
            s[f"q.{name}.plan_s"] = plan_ms / 1000.0
            with tracer.layer(f"q.{name}.exec", s, f"q.{name}.exec_s"):
                df.write.format("noop").mode("overwrite").save()
        for part in ("build", "plan", "exec"):
            s[f"mix.{part}_s"] = sum(s[f"q.{n}.{part}_s"] for n in MIX)
        self.check(spark, (d, order), out)
        self.cleanup((d, order))
        return s


def compare_frames(a, b) -> list[str]:
    """Order-insensitive equality of two result frames: same columns,
    same row count, values equal after both engines' own rounding."""
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns {sorted(a.columns)} != {sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} != {len(b)}"]
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    b = b[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    problems = []
    for c in cols:
        av, bv = a[c], b[c]
        if av.dtype.kind in "fc" or bv.dtype.kind in "fc":
            same = np.allclose(
                av.astype(float).fillna(-9e99), bv.astype(float).fillna(-9e99), rtol=1e-12, atol=1.01e-4
            )
        else:
            same = (av.astype(str) == bv.astype(str)).all()
        if not same:
            problems.append(c)
    return problems


WORKLOADS = {w.name: w for w in (CaptureKpi, KpiStream, Forecast, QueryMix)}
