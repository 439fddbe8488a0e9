"""`ads_pipeline` workload: the reference's daily Facebook-Ads ETL.

One round drives EP1-EP3 plus a streaming catch-up, in a closed loop,
against the offline fake Graph transport, into a fresh table:

  run_daily  x2   consecutive days, appended
  backfill        3 days overlapping them: CSV artifact + merge_upsert
  load_csv        reloads that CSV with upsert=True
  run_streaming   catches up 2 further days (Trigger.AvailableNow)

The streaming catch-up lands in a table of its own: load_csv's inferred
schema reads the numeric account ids as BIGINT, so a table holding both
reloaded partitions and partitions other verbs wrote can no longer be
read with mergeSchema. The seed picks the account ids and the dates; the
op order is fixed, because the verbs share first-use costs that would
otherwise move between them from run to run. The expected tables are
computed in plain Python straight from the transport's pages.
"""

from __future__ import annotations

import os
import random
from collections import Counter
import shutil
import statistics
import time
from datetime import date, timedelta

from pyspark.sql.streaming import StreamingQueryListener

from fb_ads_bigquery_etl_spark import pipelines
from fb_ads_bigquery_etl_spark.operators.dedup import dedup_keep_first, with_ingest_order
from fb_ads_bigquery_etl_spark.operators.normalize import (
    discover_action_types,
    flatten_insights,
)
from fb_ads_bigquery_etl_spark.schema import DEDUP_KEY
from fb_ads_bigquery_etl_spark.sinks import (
    append_with_schema_evolution,
    merge_upsert,
    read_csv_inferred,
    read_table,
    write_csv_artifact,
)
from fb_ads_bigquery_etl_spark.sources import fb_source
from fb_ads_bigquery_etl_spark.sources.fb_source import FakeGraphTransport
from spans import SparkJobs

SIZES = {
    # accounts, rows per (account, day), page size
    "full": (8, 250, 100),
    "tiny": (2, 40, 10),
}
VALUE_COLS = ("impressions", "clicks", "spend", "link_click")
VERB_METRICS = {"run_daily": "daily_run_s", "backfill": "backfill_s",
                "load_csv": "csv_upsert_s", "run_streaming": "stream_catchup_s"}
STREAM_PHASES = {
    "add_batch_ms": "addBatch", "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


class Plan:
    """The seeded inputs of one run."""

    def __init__(self, seed: int, size: str):
        rng = random.Random(seed)
        n_acct, self.rows_per_day, self.page_size = SIZES[size]
        self.accounts = [str(a) for a in rng.sample(range(10**9, 10**10), n_acct)]
        d0 = date(2025, 1, 1) + timedelta(days=rng.randrange(365))
        day = lambda i: (d0 + timedelta(days=i)).isoformat()  # noqa: E731
        self.daily_days = [day(1), day(2)]
        self.backfill_range = (day(0), day(2))
        self.stream_range = (day(3), day(4))
        self.warmup_day = day(-30)

    def source_opts(self) -> dict:
        return {"rows_per_day": self.rows_per_day, "page_size": self.page_size}


def _days(lo: str, hi: str) -> list[str]:
    d, end, out = date.fromisoformat(lo), date.fromisoformat(hi), []
    while d <= end:
        out.append(d.isoformat())
        d += timedelta(days=1)
    return out


def expected_rows(plan: Plan, days: list[str]) -> dict[tuple, tuple]:
    """Keep-first rows per dedup key, from the transport's own pages.

    Arrival order is account order, then row order within the account's
    pages, exactly as the source partitions deliver them."""
    t = FakeGraphTransport(rows_per_day=plan.rows_per_day, page_size=plan.page_size)
    out: dict[tuple, tuple] = {}
    for day in days:
        for acct in plan.accounts:
            cursor = None
            while True:
                page = t.fetch_page("TEST_TOKEN", acct, day, [], cursor)
                for r in page.data:
                    key = (r["campaign_name"], r["ad_name"], day, r["publisher_platform"])
                    if key not in out:
                        actions = {a["action_type"]: float(a["value"]) for a in r["actions"]}
                        out[key] = (int(r["impressions"]), int(r["clicks"]),
                                    float(r["spend"]), actions.get("link_click", 0.0))
                if page.next_cursor is None:
                    break
                cursor = page.next_cursor
    return out


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows:
            self.batches.append({"numInputRows": p.numInputRows, **dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class AdsPipeline:
    name = "ads_pipeline"
    op_layer = None  # the ops are pipelines functions, spanned as that layer

    def __init__(self, spark, seed: int, size: str, work: str, corrupt: bool = False):
        self.spark, self.corrupt = spark, corrupt
        self.plan = Plan(seed, size)
        self.work = work
        self.rounds = 0
        t0 = time.perf_counter()
        all_days = sorted({*self.plan.daily_days, *_days(*self.plan.backfill_range),
                           *_days(*self.plan.stream_range)})
        self._expect = expected_rows(self.plan, all_days)
        self._per_day = Counter(key[2] for key in self._expect)
        self.build_s = time.perf_counter() - t0  # the expected rows, not set-up
        self.listener: _Progress | None = None
        self.fetch_dir: str | None = None
        self.table_stats: dict[str, float] = {}

    def _count(self, days: list[str]) -> int:
        return sum(self._per_day[d] for d in days)

    def setup(self) -> None:
        """Ends after one cold run_daily, at the tiny size, on a warm-up day."""
        tiny = Plan(0, "tiny")
        pipelines.run_daily(
            self.spark, accounts=tiny.accounts, run_date=self.plan.warmup_day,
            table_path=os.path.join(self.work, "warmup"), **tiny.source_opts(),
        )

    # -- one round -----------------------------------------------------
    def round_ops(self) -> list[tuple[str, object]]:
        """[(op name, thunk)] for one round on a fresh table; each thunk
        returns (rows landed, check), check() giving an error or None."""
        p, spark = self.plan, self.spark
        self.rounds += 1
        base = os.path.join(self.work, f"round{self.rounds}")
        table, csv = os.path.join(base, "table"), os.path.join(base, "backfill_csv")
        stream_table = os.path.join(base, "stream_table")

        def opts(op):
            # traced rounds log each page fetch, one file per call
            extra = {"fetch_log": os.path.join(self.fetch_dir, f"{self.rounds}-{op}.log")
                     } if self.fetch_dir else {}
            return {**p.source_opts(), **extra}

        def report_check(rep, want):
            return lambda: (None if rep.status == "success" and rep.rows_processed == want
                            else f"RunReport {rep.status}/{rep.rows_processed}, want {want}")

        def daily(day):
            def run():
                rep = pipelines.run_daily(spark, accounts=p.accounts, run_date=day,
                                          table_path=table, **opts(f"daily{day}"))
                return rep.rows_processed, report_check(rep, self._count([day]))
            return run

        def backfill():
            rep = pipelines.backfill(spark, accounts=p.accounts, start_date=p.backfill_range[0],
                                     end_date=p.backfill_range[1], csv_path=csv,
                                     table_path=table, **opts("backfill"))
            return rep.rows_processed, report_check(rep, self._count(_days(*p.backfill_range)))

        def reload():
            rep = pipelines.load_csv(spark, csv, table, upsert=True)
            return rep.rows_processed, report_check(rep, self._count(_days(*p.backfill_range)))

        def stream():
            rep = pipelines.run_streaming(
                spark, accounts=p.accounts, start_date=p.stream_range[0],
                end_date=p.stream_range[1], table_path=stream_table,
                checkpoint_path=os.path.join(base, "checkpoint"), **opts("stream"),
            )
            landed = self._count(_days(*p.stream_range))
            return landed, report_check(rep, landed)

        return [*[("run_daily", daily(d)) for d in p.daily_days],
                ("backfill", backfill), ("load_csv", reload), ("run_streaming", stream)]

    def round_check(self) -> list[str | None]:
        """Compares the round's two tables with the expected rows: one
        more checked operation per round."""
        base = os.path.join(self.work, f"round{self.rounds}")
        table = os.path.join(base, "table")
        stream_days = set(_days(*self.plan.stream_range))
        main = {k: v for k, v in self._expect.items() if k[2] not in stream_days}
        streamed = {k: v for k, v in self._expect.items() if k[2] in stream_days}
        self.table_stats = {
            "sinks.table_bytes_per_row": self._parquet_bytes(table) / max(len(main), 1),
            "sinks.files_per_partition": self._files_per_partition(table),
        }
        return [self._check_table(table, main)
                or self._check_table(os.path.join(base, "stream_table"), streamed)]

    def _check_table(self, table: str, expect: dict) -> str | None:
        cols = list(DEDUP_KEY) + list(VALUE_COLS)
        pdf = read_table(self.spark, table).select(*cols).toPandas()
        if self.corrupt:
            pdf = pdf.iloc[:-1]
        got = {}
        for r in pdf.itertuples(index=False):
            key = (r.campaign_name, r.ad_name, str(r.date_start)[:10], r.publisher_platform)
            if key in got:
                return f"duplicate key {key}"
            got[key] = (int(r.impressions), int(r.clicks), float(r.spend), float(r.link_click))
        if len(got) != len(expect):
            return f"{table} has {len(got)} keys, expected {len(expect)}"
        for key, want in expect.items():
            if got.get(key) != want:
                return f"row {key}: {got.get(key)} != {want}"
        return None

    @staticmethod
    def _parquet_bytes(path: str) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))

    @staticmethod
    def _files_per_partition(table: str) -> float:
        parts = [d for d in os.listdir(table) if d.startswith("date_start=")]
        files = sum(len([f for f in os.listdir(os.path.join(table, d))
                         if f.endswith(".parquet")]) for d in parts)
        return files / max(len(parts), 1)

    def clean_round(self) -> None:
        shutil.rmtree(os.path.join(self.work, f"round{self.rounds}"), ignore_errors=True)

    # -- traced-run extras ---------------------------------------------
    def start_trace(self) -> None:
        if self.listener is None:
            self.listener = _Progress()
            self.spark.streams.addListener(self.listener)
        self.fetch_dir = os.path.join(self.work, "fetch_logs")
        os.makedirs(self.fetch_dir, exist_ok=True)

    def stop_trace(self) -> None:
        self.fetch_dir = None

    def trace_metrics(self, rounds: list[dict]) -> dict[str, float]:
        """Layer metrics only the ads pipeline has: each verb's median
        call, fetch accounting, streaming phases, table shape and a
        decomposed replay of the composed layer functions."""
        traced_rounds = len(rounds)
        out: dict[str, float] = {}
        for op, metric in VERB_METRICS.items():
            out[f"pipelines.{metric}"] = statistics.median(
                c["latency_s"] for r in rounds for c in r["calls"] if c["op"] == op)
        fetches = distinct = 0
        log_dir = os.path.join(self.work, "fetch_logs")
        for name in os.listdir(log_dir):
            with open(os.path.join(log_dir, name)) as fh:
                lines = fh.read().splitlines()
            fetches, distinct = fetches + len(lines), distinct + len(set(lines))
        out["fb_source.pages"] = fetches / traced_rounds
        out["fb_source.fetch_ratio"] = fetches / max(distinct, 1)
        self.spark.streams.removeListener(self.listener)
        batches = self.listener.batches
        out["streaming.batches"] = len(batches) / traced_rounds
        out["streaming.input_rows"] = sum(b["numInputRows"] for b in batches) / traced_rounds
        for metric, key in STREAM_PHASES.items():
            out[f"streaming.{metric}"] = sum(b.get(key, 0) for b in batches) / traced_rounds
        out.update(self.table_stats)
        out.update(self.replay())
        return out

    def replay(self) -> dict[str, float]:
        """Times each layer function the pipelines compose, once, over
        the backfill range; each step is forced with a no-op write."""
        spark, p = self.spark, self.plan
        base = os.path.join(self.work, "replay")
        days = _days(*p.backfill_range)

        def timed(fn) -> float:
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        out: dict[str, float] = {}
        fb_source.register(spark)
        raw = (spark.read.format("fb_insights").option("accounts", ",".join(p.accounts))
               .option("start_date", days[0]).option("end_date", days[-1])
               .options(**{k: str(v) for k, v in p.source_opts().items()}).load().persist())
        out["fb_source.read_s"] = timed(lambda: force(raw))
        action_types = discover_action_types(raw)
        out["normalize.action_types"] = float(len(action_types))
        flat = flatten_insights(with_ingest_order(raw), action_types).persist()
        out["normalize.flatten_s"] = timed(lambda: force(flat))
        deduped = dedup_keep_first(flat).drop("_ingest_order").persist()
        out["dedup.keep_first_s"] = timed(lambda: force(deduped))
        out["dedup.dropped_frac"] = 1.0 - deduped.count() / max(flat.count(), 1)

        # append all days but the last, then merge every day onto them
        table, csv = os.path.join(base, "table"), os.path.join(base, "csv")
        out["sinks.append_s"] = timed(lambda: append_with_schema_evolution(
            spark, deduped.filter(f"date_start < '{days[-1]}'"), table))
        update_dir = os.path.join(base, "update")
        deduped.write.parquet(update_dir)
        jobs = SparkJobs(spark)
        j0 = jobs.next_job_id()
        out["sinks.merge_upsert_s"] = timed(
            lambda: merge_upsert(spark, spark.read.parquet(update_dir), table))
        stages = {s for j in jobs.collect(j0, jobs.next_job_id()) for s in j["stages"]}
        read = sum(jobs.stage(s)["input"] for s in stages)
        update_bytes = self._parquet_bytes(update_dir)
        # existing table bytes the merge re-read per byte of update
        out["sinks.merge_read_amp"] = max(read - update_bytes, 0) / max(update_bytes, 1)
        out["sinks.csv_write_s"] = timed(lambda: write_csv_artifact(deduped, csv))
        out["sinks.csv_read_s"] = timed(lambda: force(read_csv_inferred(spark, csv)))
        for df in (deduped, flat, raw):
            df.unpersist()
        shutil.rmtree(base, ignore_errors=True)
        return out
