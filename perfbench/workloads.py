"""The benchmark workloads.

Each workload is driven by one closed-loop client: the next operation
starts when the previous one returns. A workload is built before Spark
starts (it generates its inputs then) and exposes

- ``bind()``        resolve engine callables once the session is up;
- ``cold_op()``     the first operation after set-up (timed on its own);
- ``warm_ops()``    operations run before the timed passes, outside them;
- ``new_pass()``    untimed preparation, returning one pass of timed ops;
- ``min_passes``    the timed passes a run makes at least, and
  ``max_passes``    at most (``None``: no limit);
- ``check()``       the untimed correctness pass, returning failures, and
                    ``n_checked``, the number of checks it made;
- ``items(op)``     work items an operation completed (queries or
                    committed event rows), for ``items_per_s``;
- ``reset_counters()``, ``sink_dirs()``, ``notes()`` for the traced pass
  and the run record.

The workload seed only shapes inputs: query order, payload order and
replayed rows. It never changes engine configuration.
"""

from __future__ import annotations

import json
import os
import random
import re
from dataclasses import dataclass, field

import common
import spans

T = spans.TRACER

_EXCHANGE = re.compile(r"\b(?:BroadcastExchange|Exchange)\b")


@dataclass
class Op:
    label: str
    kind: str
    fn: object
    result: dict = field(default_factory=dict)


def frozen() -> dict:
    with open(os.path.join(common.HERE, "frozen.json")) as fh:
        return json.load(fh)


class Context:
    def __init__(self, spark, seed: int, work: str, tracing: bool) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracing = tracing
        self.rng = random.Random(seed)
        self.op_log: list[dict] = []
        self.retained: list[tuple[float, int]] = []

    def after_op(self) -> None:
        """Storage the session still holds after an operation (traced run)."""
        if not self.tracing:
            return
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.retained.append((mb, len(infos)))


# -- analyst_mix -------------------------------------------------------------


class QueryMix:
    """Registered queries built and fully materialized by a noop write.
    Outputs of the last pass are kept for the correctness pass, which
    re-executes each kept plan once and compares it with its DuckDB
    oracle; construction is not repeated.

    Every construction runs under its own SparkContext job group, so the
    correctness pass can also check that no builder launched a Spark job
    while being constructed, the condition the list was frozen on."""

    min_passes = 1
    max_passes = None

    def __init__(self, ctx: Context, names: list[str], sf_dir: str, check_every: int) -> None:
        self.ctx, self.sf_dir = ctx, sf_dir
        self.names = list(names)
        self.check_every = check_every
        self.exchanges = 0
        self.n_checked = 0
        self.kept: dict[str, object] = {}
        self.construct_jobs: dict[str, int] = {}
        self._groups = 0

    def bind(self) -> None:
        from airflow_spotify_etl_spark.plans import all_queries

        registry = all_queries()
        self.builders = {n: registry[n] for n in self.names}

    def reset_counters(self) -> None:
        self.exchanges = 0

    def sink_dirs(self) -> list[str]:
        return []

    def notes(self) -> dict:
        return {"queries": self.names, "sf_dir": self.sf_dir}

    def _construct(self, name: str):
        sc = self.ctx.spark.sparkContext
        self._groups += 1
        group = f"perfbench-construct-{self._groups}"
        sc.setJobGroup(group, name)
        try:
            with T.span("plans.construct", "plans"):
                return self.builders[name](self.ctx.spark, self.sf_dir)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
            n = len(sc.statusTracker().getJobIdsForGroup(group))
            self.construct_jobs[name] = max(n, self.construct_jobs.get(name, 0))

    def _op(self, name: str, keep: bool = False) -> Op:
        ctx = self.ctx

        def run() -> dict:
            df = self._construct(name)
            if ctx.tracing and T.enabled:
                with T.span("spark.plan", "spark"):
                    plan = df._jdf.queryExecution().executedPlan().toString()
                self.exchanges += len(_EXCHANGE.findall(plan))
            with T.span("spark.exec", "spark"):
                df.write.format("noop").mode("overwrite").save()
            if keep:
                self.kept[name] = df
            ctx.after_op()
            return {}

        return Op(name, "query", run)

    def cold_op(self) -> Op:
        return self._op(self.names[0])

    def warm_ops(self) -> list[Op]:
        """Every other query once: the first execution of a query compiles
        its generated code, which the timed pass should not pay."""
        return [self._op(n) for n in self.names[1:]]

    def checked(self) -> list[str]:
        """Every ``check_every``-th query of the list, starting at an offset
        the seed picks, so consecutive seeds cover the whole list."""
        k = self.check_every
        return [n for i, n in enumerate(self.names) if i % k == self.ctx.seed % k]

    def new_pass(self) -> list[Op]:
        order = list(self.names)
        self.ctx.rng.shuffle(order)
        self.kept.clear()
        keep = set(self.checked())
        return [self._op(n, keep=n in keep) for n in order]

    def items(self, op: Op) -> float:
        return 1.0

    def _oracle(self, con, sql: str):
        """The oracle's result, computed once per checkout and data set."""
        import hashlib

        import pandas as pd

        key = hashlib.sha1(f"{self.sf_dir}\n{sql}".encode()).hexdigest()[:20]
        path = os.path.join(common.STATE, "oracle", f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if con[0] is None:
            import duckdb

            con[0] = duckdb.connect()
            con[0].execute("SET enable_progress_bar = false")
            for t in common.TABLES:
                con[0].execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        df = con[0].execute(sql).fetchdf()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def check(self) -> list[str]:
        from selfcheck import compare

        from airflow_spotify_etl_spark.plans import all_oracles

        oracles = all_oracles()
        con = [None]
        failures = [
            f"{name}: builder launched {n} Spark jobs during construction"
            for name, n in self.construct_jobs.items() if n
        ]
        self.n_checked += len(self.construct_jobs)
        for name in self.checked():
            self.n_checked += 1
            df = self.kept.get(name)
            if df is None:
                failures.append(f"{name}: no output kept")
                continue
            try:
                got = df.toPandas()
                if name in oracles:
                    problems = compare(name, got, self._oracle(con, oracles[name]))
                else:
                    problems = [] if len(got) else ["no rows and no oracle"]
            except Exception as ex:  # noqa: BLE001
                problems = [f"{type(ex).__name__}: {str(ex)[:200]}"]
            if problems:
                failures.append(f"{name}: " + "; ".join(problems))
        if con[0] is not None:
            con[0].close()
        self.kept.clear()
        return failures


def analyst_mix(ctx: Context, sf: float) -> QueryMix:
    return QueryMix(ctx, frozen()["analyst_mix"], common.ensure_tables(sf), check_every=3)


# -- daily_ingest ------------------------------------------------------------


def _played_at(us: int) -> str:
    import datetime as dt

    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


class CannedSpotify:
    """Transport for ``SpotifyRestSource``: serves one day's recently
    played items built from that day's events."""

    def __init__(self, items: list[dict]) -> None:
        self.items = items

    def __call__(self, url: str, headers: dict, data: bytes | None = None) -> dict:
        if "/me/player/recently-played" in url:
            return {"items": self.items}
        raise ValueError(f"unexpected URL {url}")


class DailyIngest:
    """Scheduled days over ``events``, as one schedule into one set of
    sinks. The cold op back-fills the cursor sink with the first
    ``backfill_days`` days in one ``run_once``; the warm-up drains the
    last back-filled day through the stream and runs the next day. From
    then on every pass is one scheduled day of four jobs: the cursor
    ingest of the day's payload, a re-run of it that must append
    nothing, an ``availableNow`` file-stream drain through
    ``dedup_stream`` and ``windowed_stream``, and the recently-played ETL
    with a canned transport."""

    REPLAY_SHARE = 0.10
    ETL_ITEMS = 50
    min_passes = 3

    def __init__(self, ctx: Context, sf: float, backfill_days: int) -> None:
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.ctx = ctx
        events = pq.read_table(os.path.join(common.ensure_tables(sf), "events.parquet"))
        self.schema_ddl = (
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
            "value DOUBLE, props STRING"
        )
        ts_us = pc.cast(events["ts"], "int64").to_numpy()
        day = ts_us // 86_400_000_000
        first = int(day.min())
        self.n_days = int(day.max()) - first + 1
        self.backfill_days = backfill_days
        # Days after the back-fill and the warm-up day; a traced run needs
        # as many again for its traced passes.
        left = self.n_days - backfill_days - 1
        self.max_passes = left // 2 if ctx.tracing else left
        assert self.max_passes >= self.min_passes
        rng = np.random.default_rng(ctx.seed)
        feed = os.path.join(common.DATA, f"daily_sf{sf}_seed{ctx.seed}")
        os.makedirs(feed, exist_ok=True)

        def write(name: str, rows) -> str:
            path = os.path.join(feed, name)
            if not os.path.exists(path):
                pq.write_table(events.take(rows), path + ".tmp")
                os.replace(path + ".tmp", path)
            return path

        by_day = [np.nonzero(day == first + d)[0] for d in range(self.n_days)]
        # payload[d]: the day's slice in seeded order (the cursor fetch);
        # stream_file[d]: the slice plus a seeded replay of the previous day.
        self.history = write(
            f"history{backfill_days:02d}.parquet",
            rng.permutation(np.concatenate(by_day[:backfill_days])),
        )
        self.payload, self.stream_file = [], []
        for d, idx in enumerate(by_day):
            self.payload.append(write(f"day{d:02d}.parquet", rng.permutation(idx)))
            replay = (
                rng.choice(by_day[d - 1], int(round(self.REPLAY_SHARE * len(by_day[d - 1]))),
                           replace=False)
                if d else idx[:0]
            )
            self.stream_file.append(
                write(f"stream{d:02d}.parquet", rng.permutation(np.concatenate([idx, replay])))
            )
        self.expected_rows = [len(idx) for idx in by_day]
        self.max_ts = [int(ts_us[idx].max()) for idx in by_day]
        self.events, self.ts_us = events, ts_us
        self.etl_picks = [
            sorted(rng.choice(idx, self.ETL_ITEMS, replace=False)) for idx in by_day
        ]
        self.dirs = {
            k: os.path.join(ctx.work, "daily", k)
            for k in ("sink", "stream_in", "stream_dedup", "stream_windows",
                      "ckpt_dedup", "ckpt_windows", "etl_sink")
        }
        os.makedirs(self.dirs["stream_in"])
        self.next_day = backfill_days
        self.n_checked = 0
        self.reruns: list[int] = []
        self.ingested_days: list[int] = []

    def bind(self) -> None:
        pass

    def reset_counters(self) -> None:
        pass

    def sink_dirs(self) -> list[str]:
        p = self.dirs
        return [p["sink"], p["etl_sink"], p["stream_dedup"], p["stream_windows"]]

    def notes(self) -> dict:
        return {"backfill_days": self.backfill_days,
                "scheduled_days": self.ingested_days[self.backfill_days:],
                "replay_share": self.REPLAY_SHARE, "etl_items": self.ETL_ITEMS}

    # -- jobs -------------------------------------------------------------

    def _ingest_job(self, paths: list[str], label: str, rerun: bool) -> Op:
        from airflow_spotify_etl_spark.streaming.cursor import CursorIncrementalIngest

        ctx, sink = self.ctx, self.dirs["sink"]

        def fetch(after_us):
            return ctx.spark.read.schema(self.schema_ddl).parquet(*paths)

        def run() -> dict:
            res = CursorIncrementalIngest(ctx.spark, fetch, sink, "event_id", "ts").run_once()
            if rerun:
                self.reruns.append(res["appended"])
            ctx.after_op()
            return res

        return Op(label, "rerun" if rerun else "ingest", run)

    def _stream_job(self, paths: list[str], label: str) -> Op:
        from airflow_spotify_etl_spark.streaming.pipelines import dedup_stream, windowed_stream

        ctx, p = self.ctx, self.dirs

        def run() -> dict:
            for src in paths:
                os.link(src, os.path.join(p["stream_in"], os.path.basename(src)))
            stream = ctx.spark.readStream.schema(self.schema_ddl).parquet(p["stream_in"])
            with T.span("streaming.drain", "streaming"):
                for name, df in (
                    ("dedup", dedup_stream(stream, ["event_id"])),
                    ("windows", windowed_stream(stream)),
                ):
                    (
                        df.writeStream.format("parquet")
                        .option("path", p[f"stream_{name}"])
                        .option("checkpointLocation", p[f"ckpt_{name}"])
                        .queryName(f"{name}_{label}")
                        .outputMode("append")
                        .trigger(availableNow=True)
                        .start()
                        .awaitTermination()
                    )
            ctx.after_op()
            return {}

        return Op(label, "stream", run)

    def _etl_job(self, d: int, label: str) -> Op:
        from airflow_spotify_etl_spark.pipelines.etl import run_recently_played_etl
        from airflow_spotify_etl_spark.sources.rest import SpotifyRestSource

        ctx, p = self.ctx, self.dirs
        picks = self.etl_picks[d]
        ev = self.events.take(picks).to_pydict()
        items = [
            {
                "played_at": _played_at(ts),
                "track": {
                    "id": f"trk-{u % 997}", "name": f"Song {u % 997}",
                    "popularity": int(v) % 101, "duration_ms": 120_000 + e % 180_000,
                    "explicit": t == "purchase", "preview_url": None,
                    "artists": [{"id": f"art-{u % 61}", "name": f"Artist {u % 61}"}],
                    "album": {"id": f"alb-{u % 211}", "name": f"Album {u % 211}",
                              "release_date": "2023-06-01"},
                    "external_urls": {"spotify": f"https://open.spotify.com/track/trk-{u % 997}"},
                },
            }
            for e, ts, u, t, v in zip(
                ev["event_id"], self.ts_us[picks], ev["user_id"], ev["event_type"], ev["value"]
            )
        ]
        self.ctx.rng.shuffle(items)

        def run() -> dict:
            transport = CannedSpotify(items)
            source = SpotifyRestSource(ctx.spark, transport=transport, token="benchmark")
            res = run_recently_played_etl(ctx.spark, source, p["etl_sink"], limit=self.ETL_ITEMS)
            ctx.after_op()
            return res

        return Op(label, "etl", run)

    # -- workload protocol --------------------------------------------------

    def cold_op(self) -> Op:
        """The back-fill: every day before the schedule in one fetch."""
        self.ingested_days = list(range(self.backfill_days))
        return self._ingest_job([self.history], "backfill", rerun=False)

    def warm_ops(self) -> list[Op]:
        """The first scheduled day, untimed. Its stream drain also takes
        the last back-filled day, so the replays it holds are real
        duplicates."""
        return self.new_pass()

    def new_pass(self) -> list[Op]:
        d = self.next_day
        self.next_day += 1
        self.ingested_days.append(d)
        streamed = [self.stream_file[d]]
        if d == self.backfill_days:
            streamed.insert(0, self.payload[d - 1])
        return [
            self._ingest_job([self.payload[d]], f"ingest_d{d:02d}", rerun=False),
            self._ingest_job([self.payload[d]], f"rerun_d{d:02d}", rerun=True),
            self._stream_job(streamed, f"stream_d{d:02d}"),
            self._etl_job(d, f"etl_d{d:02d}"),
        ]

    def items(self, op: Op) -> float:
        return float(op.result.get("appended", 0)) if op.kind == "ingest" else 0.0

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from airflow_spotify_etl_spark.streaming.cursor import CursorIncrementalIngest

        spark, p = self.ctx.spark, self.dirs
        failures = []
        self.n_checked += 4
        sink = spark.read.parquet(p["sink"])
        n, n_keys, max_us = sink.agg(
            F.count("*"), F.countDistinct("event_id"), F.unix_micros(F.max("ts"))
        ).first()
        want = sum(self.expected_rows[d] for d in self.ingested_days)
        if n != n_keys or n != want:
            failures.append(f"sink rows={n} distinct event_id={n_keys} expected {want}")
        bad = [a for a in self.reruns if a != 0]
        if bad:
            failures.append(f"re-runs appended {bad}")
        cursor = CursorIncrementalIngest(spark, None, p["sink"], "event_id", "ts").read_cursor()
        want_max = max(self.max_ts[d] for d in self.ingested_days)
        if cursor != max_us or cursor != want_max:
            failures.append(f"cursor={cursor} sink max ts={max_us} expected {want_max}")
        st = spark.read.parquet(p["stream_dedup"])
        s_n, s_keys = st.agg(F.count("*"), F.countDistinct("event_id")).first()
        if s_n != s_keys:
            failures.append(f"stream sink holds {s_n - s_keys} duplicate keys")
        streamed = sum(self.expected_rows[d] for d in self.ingested_days[self.backfill_days - 1:])
        if s_keys != streamed:
            failures.append(f"stream sink keys={s_keys} expected {streamed}")
        return failures


WORKLOADS = {
    "analyst_mix": lambda ctx: analyst_mix(ctx, 0.1),
    "daily_ingest": lambda ctx: DailyIngest(ctx, 0.1, backfill_days=20),
}
