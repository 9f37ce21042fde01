"""The four benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), runs
one unit of work through the package's public functions (``step``),
checks that unit's output against the generator's ground truth
(``check``) and turns a traced run's spans and event log into
per-layer numbers (``layers``).  Sizes are fixed here, not by flags,
so every run of a workload does the same work.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow.dataset as pds

import gen

SCHEMA_STREAM = "series_id long, data_timestamp timestamp_ntz, data_value double"


def read_output(path: str) -> pd.DataFrame:
    """A Spark parquet output directory as pandas (metadata dirs skipped)."""
    ds = pds.dataset(path, format="parquet", exclude_invalid_files=True,
                     ignore_prefixes=["_", "."])
    return ds.to_table().to_pandas()


def plan_nodes(df, name: str) -> int:
    """Count plan nodes called ``name`` in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    count = 0
    for line in plan.splitlines():
        node = line.lstrip(" :+-*()0123456789").split(" ", 1)[0]
        count += node == name
    return count


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def child(tracer, parent: dict, name: str) -> dict:
    """The direct child span of ``parent`` called ``name``."""
    return next(s for s in tracer.spans if s["name"] == name and s["parent"] == parent["id"])


class Workload:
    name = ""
    unit = ""
    items = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        main = os.path.join(work, "inputs", "main")
        # warm-up runs on the main input unless a workload sets its own
        self.dirs = {"main": main, "warm": main}
        self.inputs = main
        self.outputs = os.path.join(work, "outputs")
        self._n = 0

    def use(self, which: str) -> None:
        """Point the next steps at the ``main`` or the ``warm`` input."""
        self.inputs = self.dirs[which]

    def out_dir(self) -> str:
        self._n += 1
        return os.path.join(self.outputs, f"{self.name}-{self._n}")

    def cleanup(self, spark, keep_rdds: set[int]) -> None:
        """Per-step isolation: drop cached data, localCheckpoint blocks
        and the step's output directories."""
        from anomaly_detection_spark.pipeline.similarity import release_local_checkpoints

        spark.catalog.clearCache()
        release_local_checkpoints(spark, keep_ids=keep_rdds)
        shutil.rmtree(self.outputs, ignore_errors=True)

    def probes(self, spark, tracer) -> dict:
        return {}


class _Daily(Workload):
    """Inputs, reads and sources probes shared by the two daily engines."""

    def _tables(self) -> dict:
        t = gen.ticker_tables(self.seed, self.N_INDEX, self.N_GRAN, self.DAYS)
        d = self.inputs
        gen.write_parquet(t["fact"], os.path.join(d, "ticker_data.parquet"), 8)
        gen.write_parquet(t["gran"], os.path.join(d, "ticker_gran.parquet"))
        gen.write_parquet(t["info"], os.path.join(d, "ticker_info.parquet"))
        return t

    def _read(self, spark):
        from anomaly_detection_spark.sources.tables import load_table

        return [load_table(spark, n, self.inputs)
                for n in ("ticker_data", "ticker_gran", "ticker_info")]

    def probes(self, spark, tracer) -> dict:
        """Isolate the sources layer: a scan of every input column with
        no compute, and a sink write of an already-computed result."""
        from anomaly_detection_spark.sources.io import write_sink

        with tracer.span("sources.read") as read:
            tables = self._read(spark)
            for df in tables:
                df.write.format("noop").mode("overwrite").save()
        # task input metrics undercount local parquet reads; the scanned
        # files' size is exact for a scan of every column
        read["bytes"] = sum(os.path.getsize(urlparse(f).path)
                            for df in tables for f in df.inputFiles())
        res = self.result.persist()
        res.write.format("noop").mode("overwrite").save()
        with tracer.span("sources.write") as write:
            write_sink(res, self.out_dir())
        res.unpersist()
        return {"read": read, "write": write,
                "master.broadcast_joins": plan_nodes(self.result, "BroadcastHashJoin"),
                "rules.exchanges": plan_nodes(self.result, "Exchange")}

    def source_layers(self, log, tracer, probes) -> dict:
        read = log.totals(tracer.subtree_ids(probes["read"]))
        return {
            "sources.read_s": duration(probes["read"]),
            "sources.rows_read": read["in_rows"],
            "sources.bytes_read": probes["read"]["bytes"],
            "sources.write_s": duration(probes["write"]),
        }


class DailyRules(_Daily):
    """The SQL engine: ``detect.master.master_rule_flags`` on the eval
    date over a long history, written through ``sources.io.write_sink``."""

    name = "daily_rules"
    N_INDEX, N_GRAN, DAYS = 50, 100, 90

    def prepare(self) -> dict:
        t = self._tables()
        self.truth = t["truth"]
        self.items = len(t["truth"])
        return {"series": self.items, "rows": len(t["fact"]), "days": self.DAYS}

    def step(self, spark, tracer) -> dict:
        from anomaly_detection_spark.config import DetectorConfig
        from anomaly_detection_spark.detect.master import master_rule_flags
        from anomaly_detection_spark.sources.io import write_sink

        out = self.out_dir()
        with tracer.span("sources.read"):
            data, gran, info = self._read(spark)
        with tracer.span("rules.build"):
            cfg = DetectorConfig(eval_ts=gen.EVAL_TS, require_complete=True)
            self.result = master_rule_flags(data, gran, info, cfg, emit="eval_date")
        with tracer.span("rules.action"):
            write_sink(self.result, out)
        return {"path": out}

    COLUMNS = [
        "anomaly", "standard_deviation_flag", "data_repetitions_flag",
        "days_since_last_update_flag", "value", "previous_value",
        "previous_seven_period_avg", "absolute_one_period_difference",
        "average", "standard_deviation", "absolute_standard_deviations_from_avg",
        "standard_deviations_from_avg", "data_repetitions", "date_recorded",
        "run_date", "ticker", "granularity", "ticker_info", "ticker_code",
        "granularity_code", "data_pull_frequency", "avg_days_bw_data",
        "days_since_last_update", "unit_type", "index_id", "granularity_id",
    ]

    def check(self, spark, res: dict) -> list[str]:
        return check_daily_rules(read_output(res["path"]), self.truth, self.COLUMNS)

    def layers(self, log, tracer, steps, probes) -> dict:
        per = []
        for s, _ in steps:
            build, action = child(tracer, s, "rules.build"), child(tracer, s, "rules.action")
            t = log.totals(tracer.group_ids("rules.action", within=s))
            per.append({
                "rules.build_s": duration(build),
                "rules.action_s": duration(action),
                "rules.jobs": t["jobs"], "rules.stages": t["stages"],
                "rules.shuffle_write_bytes": t["shuffle_write"],
                "rules.spill_bytes": t["spill"],
            })
        out = {k: _median([p[k] for p in per]) for k in per[0]}
        out["rules.exchanges"] = probes["rules.exchanges"]
        out["master.broadcast_joins"] = probes["master.broadcast_joins"]
        out.update(self.source_layers(log, tracer, probes))
        return out


def check_daily_rules(got: pd.DataFrame, truth: pd.DataFrame, columns: list[str]) -> list[str]:
    """Output of ``master_rule_flags(emit="eval_date")`` against truth."""
    errs = []
    if list(got.columns) != columns:
        errs.append(f"columns {list(got.columns)} != {columns}")
        return errs
    want = truth[truth["expected_row"]]
    if len(got) != len(want):
        errs.append(f"{len(got)} rows, expected {len(want)}")
    m = want.merge(got, left_on=["index_id", "granularity_item_id"],
                   right_on=["index_id", "granularity_id"], how="left",
                   suffixes=("_want", ""), indicator=True)
    missing = m[m["_merge"] != "both"]
    if len(missing):
        errs.append(f"{len(missing)} expected series missing, e.g. "
                    f"{missing[['index_id', 'granularity_item_id', 'kind']].head(3).to_dict('records')}")
    # the left merge made the flags float
    m = m[m["_merge"] == "both"].astype({c: int for c in (
        "anomaly", "standard_deviation_flag", "data_repetitions_flag",
        "days_since_last_update_flag")})
    for flag in ("standard_deviation_flag", "data_repetitions_flag"):
        bad = m[m[f"{flag}_want"] != m[flag]]
        if len(bad):
            errs.append(f"{flag}: {len(bad)} rows differ, e.g. kinds {bad['kind'].head(3).tolist()}")
    for kind, flag in (("spike", "standard_deviation_flag"), ("repeat", "data_repetitions_flag")):
        planted = m[m["kind"] == kind]
        if len(planted) == 0 or (planted[flag] != 1).any():
            errs.append(f"planted {kind} not all flagged by {flag}")
    if (m["days_since_last_update_flag"] != 0).any():
        errs.append("staleness flagged on an eval-date row")
    either = m["standard_deviation_flag"] | m["data_repetitions_flag"]
    if (m["anomaly"] != either).any():
        errs.append("anomaly is not the OR of the flags")
    if not np.allclose(m["value"], m["last_value"], atol=1e-9):
        errs.append("value differs from the generated reading")
    if got[["ticker", "granularity", "ticker_code", "unit_type"]].isna().any().any():
        errs.append("dimension attributes missing")
    if (pd.to_datetime(got["date_recorded"]) != pd.Timestamp(gen.EVAL_DATE)).any():
        errs.append("row not on the eval date")
    return errs


class DailyStl(_Daily):
    """The R engine: ``detect.master.master_anomaly_detector`` over the
    trailing 28 days, the per-ticker STL+IQR loop as one grouped map."""

    name = "daily_stl"
    N_INDEX, N_GRAN, DAYS, WINDOW = 10, 50, 35, 28
    KERNEL_SAMPLE = 50

    def prepare(self) -> dict:
        t = self._tables()
        self.truth = t["truth"]
        self.items = len(t["truth"])
        since = gen.EVAL_DATE - np.timedelta64(self.WINDOW, "D")
        win = t["fact"][t["fact"]["data_timestamp"] > since]
        self.series = {k: g["data_value"].to_numpy()
                       for k, g in win.sort_values("data_timestamp")
                       .groupby(["index_id", "granularity_item_id"])}
        return {"series": self.items, "rows": len(win), "window_days": self.WINDOW}

    def config(self):
        from pyspark.sql import functions as F
        from anomaly_detection_spark.config import DetectorConfig

        since = str(pd.Timestamp(gen.EVAL_DATE - np.timedelta64(self.WINDOW, "D")))
        return DetectorConfig(
            eval_ts=gen.EVAL_TS,
            predicate=F.col("data_timestamp") > F.lit(since).cast("timestamp_ntz"),
        )

    def step(self, spark, tracer) -> dict:
        from anomaly_detection_spark.detect.master import master_anomaly_detector
        from anomaly_detection_spark.sources.io import write_sink

        out = self.out_dir()
        with tracer.span("sources.read"):
            data, gran, info = self._read(spark)
        with tracer.span("stl.build"):
            self.result = master_anomaly_detector(data, gran, info, self.config())
        with tracer.span("stl.action"):
            write_sink(self.result, out)
        return {"path": out}

    def check(self, spark, res: dict) -> list[str]:
        return check_daily_stl(read_output(res["path"]), self.truth, self.series,
                               self.seed, self.KERNEL_SAMPLE)

    def kernel_ms_per_series(self) -> float:
        """``decompose`` + ``iqr_anomalize`` in this process on the
        workload's own series: the detector's floor with Spark removed."""
        from anomaly_detection_spark.detect.stl import decompose, iqr_anomalize

        keys = sorted(self.series)[:400]
        t0 = time.perf_counter()
        for k in keys:
            _, _, rem = decompose(self.series[k], period=7)
            iqr_anomalize(rem)
        return (time.perf_counter() - t0) * 1000.0 / len(keys)

    def layers(self, log, tracer, steps, probes) -> dict:
        per = []
        for s, _ in steps:
            build, action = child(tracer, s, "stl.build"), child(tracer, s, "stl.action")
            groups = tracer.group_ids("stl.action", within=s)
            py = log.python_stages(groups)
            per.append({
                "stl.build_s": duration(build),
                "stl.action_s": duration(action),
                "stl.executor_run_s": sum(t["run_ms"] for st in py for t in log.tasks[st]) / 1000.0,
                "stl.python_bytes_sent": log.acc_sum(py, "data sent to Python workers"),
                "stl.python_bytes_received": log.acc_sum(py, "data returned from Python workers"),
                "stl.task_skew": log.task_skew(py),
            })
        out = {k: _median([p[k] for p in per]) for k in per[0]}
        out["stl.kernel_ms_per_series"] = self.kernel_ms_per_series()
        out["master.broadcast_joins"] = probes["master.broadcast_joins"]
        out.update(self.source_layers(log, tracer, probes))
        return out


def _stl_expected(vals: np.ndarray) -> tuple[str, float]:
    from anomaly_detection_spark.detect.stl import decompose, iqr_anomalize

    _, _, rem = decompose(vals, period=7)
    is_anom, l1, l2 = iqr_anomalize(rem)
    zero, radius = (l1 + l2) / 2.0, abs(l2 - (l1 + l2) / 2.0)
    score = abs(rem[-1] - zero) / radius if radius else float("inf")
    return ("Yes" if is_anom[-1] else "No"), score


def check_daily_stl(got: pd.DataFrame, truth: pd.DataFrame, series: dict,
                    seed: int, sample: int) -> list[str]:
    """One row per series; planted spikes say Yes; a seeded sample of
    series equals the detector kernel run in this process."""
    errs = []
    cols = ["data_timestamp", "index", "region", "ticker_index", "anomaly",
            "value", "seven_day_avg", "score", "repetitions", "frequency",
            "alleged_freq", "granularity", "granularity_desc", "index_name",
            "ticker", "ticker_desc", "display_unit_type", "documentation_url"]
    if list(got.columns) != cols:
        return [f"columns {list(got.columns)} != {cols}"]
    if len(got) != len(truth) or got[["index", "region"]].duplicated().any():
        errs.append(f"{len(got)} rows for {len(truth)} series")
    m = truth.merge(got, left_on=["index_id", "granularity_item_id"],
                    right_on=["index", "region"], how="inner")
    spikes = m[m["kind"] == "spike"]
    if len(spikes) == 0 or (spikes["anomaly"] != "Yes").any():
        errs.append(f"{(spikes['anomaly'] != 'Yes').sum()} planted spikes not flagged")
    if not np.allclose(m["value"], m["last_value"], atol=1e-9):
        errs.append("value differs from the newest generated reading")
    if m[["granularity", "index_name", "ticker"]].isna().any().any():
        errs.append("dimension attributes missing")
    rng = np.random.default_rng(seed)
    keys = sorted(series)
    by_key = m.set_index(["index", "region"])
    for i in rng.choice(len(keys), min(sample, len(keys)), replace=False):
        k = keys[i]
        want_anom, want_score = _stl_expected(series[k])
        row = by_key.loc[k]
        if row["anomaly"] != want_anom or not np.isclose(row["score"], want_score, rtol=1e-9):
            errs.append(f"series {k}: got {row['anomaly']}/{row['score']}, "
                        f"kernel gives {want_anom}/{want_score}")
            break
    return errs


class Daily(Workload):
    """The reference's daily job: both engines, each on its own tables.

    The SQL engine runs only in the JVM (windows, one Exchange,
    broadcast dim joins, parquet scan and write); the R engine is bound
    by Python workers (Arrow transfer and per-group numpy LOESS).  Their
    per-layer numbers are reported apart.
    """

    name = "daily"
    unit = "series"

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.engines = [DailyRules(seed, os.path.join(work, "rules")),
                        DailyStl(seed, os.path.join(work, "stl"))]

    def prepare(self) -> dict:
        sizes = {e.name: e.prepare() for e in self.engines}
        self.items = sum(e.items for e in self.engines)
        return sizes

    def use(self, which: str) -> None:
        for e in self.engines:
            e.use(which)

    def step(self, spark, tracer) -> dict:
        return {e.name: e.step(spark, tracer) for e in self.engines}

    def check(self, spark, res: dict) -> list[str]:
        return [f"{e.name}: {err}" for e in self.engines
                for err in e.check(spark, res[e.name])]

    def cleanup(self, spark, keep_rdds: set[int]) -> None:
        for e in self.engines:
            e.cleanup(spark, keep_rdds)

    def probes(self, spark, tracer) -> dict:
        return {e.name: e.probes(spark, tracer) for e in self.engines}

    def layers(self, log, tracer, steps, probes) -> dict:
        rules, stl = (e.layers(log, tracer, steps, probes[e.name]) for e in self.engines)
        out = {**rules, **stl}
        for k in ("sources.read_s", "sources.rows_read", "sources.bytes_read",
                  "sources.write_s", "master.broadcast_joins"):
            out[k] = rules[k] + stl[k]
        return out


class StreamFlags(Workload):
    """``streaming.rules_stream.stateful_trailing_flags`` draining one
    parquet file per day with ``availableNow`` and one file a trigger."""

    name = "stream_flags"
    unit = "events"
    N_SERIES, N_FILES, WARM_FILES = 200, 16, 3

    def prepare(self) -> dict:
        self.gen = gen.stream_files(self.seed, self.N_SERIES, self.N_FILES, self.dirs["main"])
        # the first drain of a JVM pays ~12 s of one-time cost: warm up
        # on the first few files only
        self.dirs["warm"] = os.path.join(self.work, "inputs", "warm")
        os.makedirs(self.dirs["warm"])
        for name in sorted(os.listdir(self.dirs["main"]))[: self.WARM_FILES]:
            shutil.copy2(os.path.join(self.dirs["main"], name), self.dirs["warm"])
        self.items = self.gen["n_input"]
        self._batch = None
        return {"series": self.N_SERIES, "files": self.N_FILES,
                "rows": self.items, "late_rows": self.gen["n_late"]}

    def step(self, spark, tracer) -> dict:
        from anomaly_detection_spark.sources.io import stream_source
        from anomaly_detection_spark.streaming.rules_stream import stateful_trailing_flags

        out = self.out_dir()
        with tracer.span("stream.build"):
            src = stream_source(spark, self.inputs, "parquet", SCHEMA_STREAM,
                                maxFilesPerTrigger="1")
            # the operator keeps ``data_periods`` values, i.e. one
            # difference fewer than the batch rule's 28-row window;
            # 29 values score each row over the batch rule's window
            flags = stateful_trailing_flags(
                src, "series_id", "data_timestamp", "data_value", data_periods=29)
        with tracer.span("stream.drain") as drain:
            q = (flags.writeStream.format("parquet")
                 .option("path", os.path.join(out, "sink"))
                 .option("checkpointLocation", os.path.join(out, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            drain["stream_group"] = str(q.runId)
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if "addBatch" in p["durationMs"]]
        return {"path": os.path.join(out, "sink"), "progress": progress}

    def batch_ms(self, res: dict) -> list[float]:
        return [float(p["durationMs"]["triggerExecution"]) for p in res["progress"]]

    def check(self, spark, res: dict) -> list[str]:
        got = read_output(res["path"])
        res["output_rows"] = len(got)
        errs = check_stream(got, self.gen)
        n_in = sum(p["numInputRows"] for p in res["progress"])
        if n_in != self.gen["n_input"]:
            errs.append(f"stream read {n_in} rows of {self.gen['n_input']}")
        if self._batch is None:
            self._batch = self.batch_reference(spark)
        return errs + compare_stream_batch(got, self._batch)

    def batch_reference(self, spark) -> pd.DataFrame:
        """The batch rule engine on the in-order rows as they stood on
        each compare day.  Copy k holds the rows up to day k under
        series ids offset by k·10^6, so one ``rule_flags(emit="latest")``
        call scores every series on every compare day over the same
        28-difference window the stream scores that row with."""
        from anomaly_detection_spark.detect.rules import rule_flags

        rows = self.gen["inorder"]
        copies = []
        for k, day in enumerate(self.gen["compare_days"]):
            c = rows[rows["data_timestamp"] <= day].copy()
            c["series_id"] += k * 1_000_000
            copies.append(c)
        df = spark.createDataFrame(pd.concat(copies, ignore_index=True))
        want = rule_flags(df, ["series_id"], "data_timestamp", "data_value",
                          emit="latest").select(
            "series_id", "date_recorded", "standard_deviation_flag",
            "data_repetitions_flag", "data_repetitions", "standard_deviation",
            "absolute_standard_deviations_from_avg").toPandas()
        want["series_id"] %= 1_000_000
        return want

    def layers(self, log, tracer, steps, probes) -> dict:
        per = []
        for _, res in steps:
            prog = res["progress"]
            ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
            dur = lambda k: float(sum(p["durationMs"].get(k, 0) for p in prog)) / len(prog)
            out_rows = res["output_rows"]
            per.append({
                "stream.batches": len(prog),
                "stream.add_batch_ms": dur("addBatch"),
                "stream.planning_ms": dur("queryPlanning"),
                "stream.wal_commit_ms": dur("walCommit"),
                "stream.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
                "stream.state_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
                "stream.state_commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)) / max(1, len(ops)),
                "stream.rows_dropped_late": sum(p["numInputRows"] for p in prog) - out_rows,
                "stream.output_rows": out_rows,
            })
        return {k: _median([p[k] for p in per]) for k in per[0]}


def compare_stream_batch(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Stream rows against the batch reference on the compare days."""
    got = got.rename(columns={"ts": "date_recorded"})
    m = want.merge(got, on=["series_id", "date_recorded"], how="left",
                   suffixes=("_batch", ""), indicator=True)
    errs = []
    if (m["_merge"] != "both").any() or len(want) == 0:
        errs.append(f"{(m['_merge'] != 'both').sum()} batch rows absent from the stream")
        return errs
    for col in ("standard_deviation_flag", "data_repetitions_flag", "data_repetitions"):
        bad = m[m[f"{col}_batch"] != m[col]]
        if len(bad):
            errs.append(f"stream vs batch {col}: {len(bad)} of {len(m)} rows differ")
    # both engines round the mean and stddev of the differences to 4 dp,
    # the batch one from an exact integer fold and the stream one from
    # floats, so each may differ by one unit in the 4th place:
    # |dz| <= 1e-4 * (1 + z) / stddev, plus the z-score's own rounding
    zb = m["absolute_standard_deviations_from_avg_batch"]
    sd = m["standard_deviation_batch"]
    tol = np.where(sd > 0, 1e-4 * (1.0 + zb) / sd.where(sd > 0, 1.0), 0.0) + 2e-4
    dz = (zb - m["absolute_standard_deviations_from_avg"]).abs()
    if (dz > tol).any():
        errs.append(f"stream vs batch z-score: max difference {dz.max():.4g}")
    return errs


def check_stream(got: pd.DataFrame, g: dict) -> list[str]:
    """Every in-order row scored once, every late row dropped, and the
    planted spike, repetition and ingest gap flagged by their rule."""
    errs = []
    inorder = g["inorder"]
    if len(got) != len(inorder):
        errs.append(f"{len(got)} rows out, expected {len(inorder)} "
                    f"({g['n_input'] - len(got)} dropped, {g['n_late']} planted late)")
    keys = got[["series_id", "ts"]].rename(columns={"ts": "data_timestamp"})
    both = inorder.merge(keys, on=["series_id", "data_timestamp"], how="inner")
    if len(both) != len(inorder) or keys.duplicated().any():
        errs.append("scored rows are not exactly the in-order rows")
    j = got.merge(inorder, left_on=["series_id", "ts"],
                  right_on=["series_id", "data_timestamp"], how="inner")
    if not np.allclose(j["value"], j["data_value"], atol=1e-9):
        errs.append("a late re-delivery replaced an in-order value")
    for kind, flag in (("spike", "standard_deviation_flag"),
                       ("repeat", "data_repetitions_flag"),
                       ("gap", "days_since_last_update_flag")):
        day, ids = g[kind]
        rows = got[(got["ts"] == day) & got["series_id"].isin(ids)]
        if len(rows) != len(ids) or (rows[flag] != 1).any():
            errs.append(f"planted {kind} on {day.date()}: {int((rows[flag] == 1).sum())} "
                        f"of {len(ids)} flagged by {flag}")
    return errs


class NearDup(Workload):
    """``pipeline.dedup.minhash_exact_near_duplicates`` over a
    documents corpus replicated with disjoint token suffixes."""

    name = "near_dup"
    unit = "docs"
    N_BASE, COPIES, PLANTED, THRESHOLD = 5000, 2, 64, 0.5

    def prepare(self) -> dict:
        d = gen.documents(self.seed, self.N_BASE, self.COPIES, self.PLANTED)
        gen.write_parquet(d["docs"], os.path.join(self.inputs, "documents.parquet"), 4)
        self.texts = d["docs"]["text"].to_numpy()
        self.planted = d["planted"]
        self.items = len(d["docs"])
        return {"docs": self.items, "base_docs": self.N_BASE, "copies": self.COPIES,
                "planted_pairs": self.PLANTED}

    def step(self, spark, tracer) -> dict:
        from anomaly_detection_spark.pipeline.dedup import minhash_exact_near_duplicates
        from anomaly_detection_spark.pipeline.similarity import persistent_rdd_ids
        from anomaly_detection_spark.sources.io import write_sink
        from anomaly_detection_spark.sources.tables import load_table

        out = self.out_dir()
        with tracer.span("sources.read"):
            docs = load_table(spark, "documents", self.inputs)
        before = persistent_rdd_ids(spark)
        with tracer.span("dedup.build"):
            pairs = minhash_exact_near_duplicates(
                docs, "text", "doc_id", jaccard_threshold=self.THRESHOLD)
        with tracer.span("dedup.action") as action:
            write_sink(pairs, out)
        action["persisted_rdds"] = len(persistent_rdd_ids(spark) - before)
        return {"path": out}

    def check(self, spark, res: dict) -> list[str]:
        got = read_output(res["path"])
        found = set(zip(got["id_a"].tolist(), got["id_b"].tolist()))
        self.last_pairs = len(got)
        self.last_recall = sum(p in found for p in self.planted) / len(self.planted)
        return check_near_dup(got, self.texts, self.planted, self.THRESHOLD)

    def layers(self, log, tracer, steps, probes) -> dict:
        per = []
        for s, _ in steps:
            build, action = child(tracer, s, "dedup.build"), child(tracer, s, "dedup.action")
            b = log.totals(tracer.group_ids("dedup.build", within=s))
            a = log.totals(tracer.group_ids("dedup.action", within=s))
            per.append({
                "dedup.build_s": duration(build),
                "dedup.build_jobs": b["jobs"],
                "dedup.action_s": duration(action),
                "dedup.action_jobs": a["jobs"],
                "dedup.persisted_rdds": action["persisted_rdds"],
                "dedup.shuffle_write_bytes": a["shuffle_write"] + b["shuffle_write"],
            })
        out = {k: _median([p[k] for p in per]) for k in per[0]}
        out["dedup.pairs_out"] = self.last_pairs
        out["dedup.planted_recall"] = self.last_recall
        return out


def check_near_dup(got: pd.DataFrame, texts, planted, threshold: float) -> list[str]:
    """Planted recall is 1 and every pair's Jaccard is exact and at or
    above the threshold (recomputed here from the texts)."""
    errs = []
    if list(got.columns) != ["id_a", "id_b", "jaccard"]:
        return [f"columns {list(got.columns)}"]
    if (got["id_a"] >= got["id_b"]).any() or got[["id_a", "id_b"]].duplicated().any():
        errs.append("pairs not unique with id_a < id_b")
    found = set(zip(got["id_a"].tolist(), got["id_b"].tolist()))
    missed = [p for p in planted if p not in found]
    if missed:
        errs.append(f"planted recall {1 - len(missed) / len(planted):.4f}, missed {missed[:3]}")
    for a, b, j in got.itertuples(index=False):
        exact = gen.jaccard(texts[a], texts[b])
        if exact < threshold or abs(exact - j) > 1e-4:
            errs.append(f"pair ({a}, {b}): reported {j}, exact {exact:.4f}")
            break
    return errs


WORKLOADS = {w.name: w for w in (Daily, StreamFlags, NearDup)}
