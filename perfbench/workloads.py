"""The benchmark's workloads. Each op is timed from the benchmark's side
of the library boundary; its output is checked afterwards, untimed,
against an answer computed outside Spark (DuckDB oracle or plain
Python)."""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import os
import statistics

from datagen import FeedSet, write_tables
from spans import Tracer, plan_node_counts, spark_counters

ANALYTICS_OPS = (
    "tpch_q5_local_supplier", "tpch_q7_volume_shipping", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue", "tpch_q18_large_orders", "pricing_summary",
    "sessionize_events", "funnel_conversion", "order_value_percentiles",
    "top3_orders_per_customer",
)


def load_oracle_check(root: str):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_ok(problems: list[str]) -> bool:
    """Values must match. Float differences within 1e-9 relative
    (reported as FLOAT-ULP-ONLY) and int/float/decimal type skew are
    equal answers, so they pass."""
    return all(p.startswith(("FLOAT-ULP-ONLY", "TYPE-SKEW")) for p in problems)


class Workload:
    """One closed-loop client issuing ``ops()`` round after round."""

    name = ""
    round_s = 1.0  # nominal warm round time on a 4-vCPU host; sizes the timed phase
    warmup_rounds = (2, 3)  # fewest and most warm-up rounds

    def __init__(self, spark, root: str, work: str, seed: int, tracer: Tracer, scale: str):
        self.spark, self.root, self.work, self.seed = spark, root, work, seed
        self.tracer, self.scale = tracer, scale
        self.layer: dict[str, float] = {}
        self.broken: str | None = None  # self-check: this op's outputs lose a row
        self.op_times: dict[str, list[float]] = {}
        self.op_jobs: dict[str, list[int]] = {}
        self.skews: list[float] = []

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def record_op(self, name: str, op_id: str, seconds: float) -> None:
        """Traced run: status-store counters of the op's job groups."""
        c = spark_counters(self.spark, [op_id] + [f"{op_id}:{p}" for p in ("build", "scan", "parse")])
        self.skews.append(c.pop("task_skew"))
        for k, v in c.items():
            self.add(f"spark.{k}", v)
        self.add("queries.build_jobs", spark_counters(self.spark, [f"{op_id}:build"])["jobs"])
        self.op_times.setdefault(name, []).append(seconds)
        self.op_jobs.setdefault(name, []).append(c["jobs"])

    def layer_metrics(self, tracer: Tracer, traced_s: float, untraced_s: float, cpus: int) -> dict[str, float]:
        """Per-layer totals over the traced rounds."""
        own = tracer.self_times()
        dur: dict[str, float] = {}
        for s in tracer.spans:
            dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
        m = dict(self.layer)
        m["catalog.load_s"] = dur.get("catalog.load_table", 0.0)
        m["queries.build_s"] = dur.get("queries.build", 0.0)
        m["plans.build_s"] = dur.get("plans.build", 0.0)
        m["sinks.write_s"] = dur.get("sinks.upsert", 0.0)
        m["spark.exec_s"] = sum(dur.get(k, 0.0) for k in ("spark.exec", "sinks.upsert", "sinks.geojson"))
        m["spark.busy_frac"] = m.get("spark.executor_run_ms", 0.0) / (1000.0 * traced_s * cpus)
        m["spark.task_skew"] = statistics.median(self.skews) if self.skews else 0.0
        if m.get("sources.feeds"):
            m["sources.feeds_ok_frac"] = m["sources.feeds_ok"] / m["sources.feeds"]
        m["bench.trace_overhead_frac"] = traced_s / untraced_s - 1.0
        m["bench.op_self_s"] = sum(own[s["id"]] for s in tracer.spans if s["name"] == "op")
        for name, ts in self.op_times.items():  # only registered queries are listed
            m[f"op.{name}.s"] = statistics.median(ts)
            m[f"op.{name}.jobs"] = statistics.median(self.op_jobs[name])
        return m

    def ops(self) -> list[str]:
        raise NotImplementedError

    def run_op(self, name: str, op_id: str) -> object:
        """The timed part of one op; returns what ``verify`` checks."""
        raise NotImplementedError

    def verify(self, name: str, out: object) -> bool:
        raise NotImplementedError


class QueryWorkload(Workload):
    """Registered queries over seeded tables, each result collected to
    the driver and compared with its oracle answer."""

    op_names: tuple[str, ...] = ()
    sf = 0.05

    def setup(self, generations: int) -> None:
        from etl_inreach_spark.queries import all_oracles, all_queries

        self.sf_dir = os.path.join(self.work, "tables")
        write_tables(self.sf_dir, self.seed, sf=0.002 if self.scale == "small" else self.sf)
        self.queries = all_queries()
        self.oc = load_oracle_check(self.root)
        oracles = all_oracles()
        con = self.oc.duck_con(self.sf_dir)
        self.expected = {name: self.oc.pandas_rows(con.execute(oracles[name]).df())
                         for name in self.op_names}
        self.verified = {}
        con.close()

    def ops(self) -> list[str]:
        return list(self.op_names)

    def run_op(self, name: str, op_id: str) -> object:
        tr, sc = self.tracer, self.spark.sparkContext
        sc.setJobGroup(f"{op_id}:build", name)
        with tr.span("queries.build", query=name):
            df = self.queries[name](self.spark, self.sf_dir)
        sc.setJobGroup(op_id, name)
        if tr.enabled:
            with tr.span("spark.plan"):
                counts = plan_node_counts(df)
            for k in ("plan_s", "exchanges", "python_nodes"):
                self.add(f"spark.{k}", counts[k])
        with tr.span("spark.exec"):
            out = df.toPandas()
        return out.iloc[:-1] if name == self.broken else out

    def verify(self, name: str, out: object) -> bool:
        """Full oracle comparison the first time; afterwards an output
        identical to the op's already-verified output passes at once."""
        try:
            canon = out.sort_values(list(out.columns)).reset_index(drop=True)
        except TypeError:  # unorderable cells (arrays): always compare in full
            canon = None
        known = self.verified.get(name)
        if canon is not None and known is not None and canon.equals(known):
            return True
        cols, rows = self.oc.pandas_rows(out)
        ecols, erows = self.expected[name]
        if not rows:  # an empty answer never verifies anything
            return False
        ok = result_ok(self.oc.compare(name, cols, rows, ecols, erows))
        if ok and canon is not None:
            self.verified[name] = canon
        return ok


class AnalyticsMix(QueryWorkload):
    name = "analytics_mix"
    op_names = ANALYTICS_OPS
    round_s = 7.0


class InreachPoll(Workload):
    """Scheduled MapShare poll: read every share's KML feed through the
    feed DataSource, run the inReach pipeline, upsert the features into
    a silver parquet table and render the table as GeoJSON features."""

    name = "inreach_poll"
    round_s = 4.0
    warmup_rounds = (3, 4)  # one poll per round
    shares, placemarks = 32, 40

    def setup(self, generations: int) -> None:
        from etl_inreach_spark.sources.http_kml import KMLFeedDataSource

        small = self.scale == "small"
        self.feeds = FeedSet(os.path.join(self.work, "feeds"), self.seed,
                             shares=3 if small else self.shares,
                             placemarks=10 if small else self.placemarks, generations=generations)
        self.silver = os.path.join(self.work, "silver")
        self.spark.dataSource.register(KMLFeedDataSource)
        self.shares_df = self.spark.createDataFrame(
            [(s, f"CALL-{i}", None) for i, s in enumerate(self.feeds.share_ids)],
            "share_id string, callsign string, password string")
        self.shares_json = json.dumps([{"share_id": s} for s in self.feeds.share_ids])
        self.generation = 0

    def ops(self) -> list[str]:
        return ["poll"]

    def run_op(self, name: str, op_id: str) -> object:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from etl_inreach_spark.plans.inreach import inreach_pipeline
        from etl_inreach_spark.sinks.geojson import features_to_json
        from etl_inreach_spark.sinks.upsert import upsert_latest
        from etl_inreach_spark.sources.kml import kml_to_placemarks

        tr, spark, g = self.tracer, self.spark, self.generation
        self.generation += 1
        feeds = (spark.read.format("kml_feed").option("shares", self.shares_json)
                 .option("base_url", self.feeds.base_url(g)).option("lookback_minutes", "0").load())
        good = feeds.filter("error IS NULL").select("share_id", "body")
        if tr.enabled:
            # probes: the scan alone, then scan + parse alone (traced run only)
            sc = spark.sparkContext
            sc.setJobGroup(f"{op_id}:scan", "scan probe")
            with tr.span("sources.scan") as s_scan:
                errors = [r[0] for r in feeds.select("error").collect()]
            sc.setJobGroup(f"{op_id}:parse", "parse probe")
            with tr.span("sources.parse") as s_parse:
                n_pm = kml_to_placemarks(good).count()
            sc.setJobGroup(op_id, name)
            self.add("sources.scan_s", s_scan["end"] - s_scan["start"])
            self.add("sources.parse_s", (s_parse["end"] - s_parse["start"]) - (s_scan["end"] - s_scan["start"]))
            self.add("sources.tasks", spark_counters(spark, [f"{op_id}:scan"])["tasks"])
            self.add("sources.feeds_ok", sum(e is None for e in errors))
            self.add("sources.feeds", len(errors))
            self.add("plans.placemarks_in", n_pm)
        with tr.span("plans.build"):
            features = inreach_pipeline(self.shares_df, good)
        if tr.enabled:
            with tr.span("spark.plan"):
                counts = plan_node_counts(features)
            for k in ("plan_s", "exchanges", "python_nodes"):
                self.add(f"spark.{k}", counts[k])
            obs = Observation(f"features-{op_id}")
            features = features.observe(obs, F.count(F.lit(1)).alias("n"))
        with tr.span("sinks.upsert"):
            upsert_latest(spark, self.silver, features, ["share_id", "id"], "time")
        if tr.enabled:
            self.add("plans.features_out", obs.get["n"])
            files = [os.path.join(d, f) for d, _, fs in os.walk(self.silver) for f in fs if f.endswith(".parquet")]
            self.add("sinks.files_written", len(files))
            self.add("sinks.bytes_written", sum(os.path.getsize(f) for f in files))
        with tr.span("sinks.geojson"):
            rows = features_to_json(spark.read.parquet(self.silver)).collect()
        return g, rows[:-1] if name == self.broken else rows

    def verify(self, name: str, out: object) -> bool:
        g, rows = out
        want = sorted((f"inreach-{imei}", t, lon, lat, alt)
                      for (_share, imei), (t, lon, lat, alt) in self.feeds.expected[g].items())
        got = []
        for r in rows:
            f = json.loads(r["feature_json"])
            t = dt.datetime.fromisoformat(f["properties"]["time"].replace("Z", "+00:00"))
            got.append((f["id"], t, *f["geometry"]["coordinates"]))
        got.sort()
        return len(got) == len(want) and all(
            a[:2] == b[:2] and all(abs(x - y) <= 1e-9 * max(1.0, abs(y)) for x, y in zip(a[2:], b[2:]))
            for a, b in zip(got, want))


WORKLOADS = {w.name: w for w in (InreachPoll, AnalyticsMix)}
