"""The three benchmark workloads.

Each workload is driven through the package's public API by one client
in a closed loop (the next request is sent when the previous one has
returned) and follows the same life cycle, called by ``run.py``:

``prepare``   generate the seeded inputs (not timed);
``setup``     catalog registration and warm-up on a fresh session
              (timed as ``setup_s``; repeated, see ``run.py``);
``measure``   the timed window: whole rounds of requests until
              ``seconds`` have passed;
``teardown``  stop what ``setup`` started;
``check``     compare every output against DuckDB (not timed).

A request records its latency; one that raises counts as failed. Every
request runs its build under the Spark job group ``build:<n>`` and its
action under ``exec:<n>`` so the traced run can attribute jobs, stages
and tasks, and is followed by ``Harness.drop_persisted``.

In a traced run, requests (a query, a job, a micro-batch) alternate
between traced and untraced in the order T U U T T U ..., so both kinds
see the same warm-up and table growth, and the window also lasts until
each kind has run. Untraced requests record their latencies apart
(``untraced_latencies``) and run their Spark jobs under groups prefixed
``untraced-``; the per-layer figures come from the traced requests.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import numpy as np

import gen
from check import duck, duck_rows, same_rows

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Workload:
    name = ""
    #: the percentile reported as latency_tail_s (100: the maximum)
    tail_pct = 90
    #: set-up repetitions per run; setup_s is their median
    setups = 3

    def __init__(self, harness, seed: int, work: str, tracer=None):
        self.h = harness
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.latencies: list[float] = []
        self._traced_latencies = self.latencies
        self.untraced_latencies: list[float] = []
        self.group_prefix = ""
        self._n_alternated = 0
        self.attempted = 0
        self.failed = 0
        self.units = 0
        self.window_s = 0.0
        self.persisted: list[int] = []
        self.result_rows = 0
        self.errors: list[str] = []
        self._req = 0

    # -- helpers -------------------------------------------------------------
    @property
    def spark(self):
        return self.h.spark

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def span(self, layer: str, name: str):
        if not self.tracing:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def group(self, kind: str) -> None:
        self.spark.sparkContext.setJobGroup(
            f"{self.group_prefix}{kind}:{self._req}", kind)

    def call(self, build, label: str):
        """One request: build a DataFrame, run it, return its rows and
        columns (``None`` if it raised). Latency covers build + run."""
        self._req += 1
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.group("build")
            df = build()
            if self.tracing:
                with self.span("plans.optimize", label):
                    df._jdf.queryExecution().executedPlan()
            self.group("exec")
            with self.span("exec", label):
                rows = df.collect()
            cols = df.columns
        except Exception:
            self.failed += 1
            self.errors.append(f"{label}: raised\n{traceback.format_exc()}")
            rows = cols = None
        self.latencies.append(time.perf_counter() - t0)
        _log(f"request {self._req} {label}: {self.latencies[-1]:.3f} s")
        self.persisted.append(self.h.drop_persisted())
        if rows is not None and not self.group_prefix:
            self.result_rows += len(rows)
        return rows, cols

    def rounds(self, seconds: float, run_round) -> None:
        """Run whole rounds until ``seconds`` have passed (in a traced
        run, also until both traced and untraced requests have run)."""
        t0 = time.perf_counter()
        r = 0
        while True:
            run_round(r)
            r += 1
            if self.failed or (time.perf_counter() - t0 >= seconds
                               and (self.tracer is None or self.untraced_latencies)):
                break
        self.window_s = time.perf_counter() - t0
        if self.tracer is not None:
            self._trace(True)

    def next_request(self) -> None:
        """In a traced run, switch tracing for the next request, in the
        order T U U T T U ..."""
        if self.tracer is not None:
            self._trace(self._n_alternated % 4 in (0, 3))
            self._n_alternated += 1

    def _trace(self, on: bool) -> None:
        self.tracer.enable(on)
        self.latencies = self._traced_latencies if on else self.untraced_latencies
        self.group_prefix = "" if on else "untraced-"

    # -- end-to-end figures ----------------------------------------------------
    def latency_figures(self) -> dict[str, float]:
        lat = self.latencies
        tail = (statistics.quantiles(lat, n=100, method="inclusive")[self.tail_pct - 1]
                if len(lat) > 1 and self.tail_pct < 100 else max(lat))
        return {
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail,
            "throughput_per_s": self.units / self.window_s,
        }

    def named_figures(self) -> dict[str, tuple[float, str]]:
        return {}

    def layer_figures(self) -> dict[str, float]:
        return {}

    def teardown(self) -> None:
        pass


# ---------------------------------------------------------------------------
# bi_mix
# ---------------------------------------------------------------------------

#: parameterized warehouse SQL, written in the dialect Spark and DuckDB share
SQL_TEMPLATES = {
    "cond_multi_distinct": (
        "SELECT o_orderpriority,"
        " count(DISTINCT CASE WHEN o_orderstatus = '{status}' THEN o_custkey END)"
        " AS n_cust_status, count(DISTINCT o_custkey) AS n_cust,"
        " count(*) AS n_orders FROM orders"
        " WHERE o_orderdate >= DATE '{year}-01-01'"
        " AND o_orderdate < DATE '{year1}-01-01' GROUP BY o_orderpriority"),
    "shipdate_range_scan": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n,"
        " sum(l_quantity) AS qty, round(sum(l_extendedprice), 2) AS base_price"
        " FROM lineitem WHERE l_shipdate >= DATE '{year}-{month:02d}-01'"
        " AND l_shipdate < DATE '{year}-{month:02d}-01' + INTERVAL 3 MONTH"
        " GROUP BY l_returnflag, l_linestatus"),
    "star_join_revenue": (
        "SELECT n_name, count(*) AS n_lines,"
        " sum(l_extendedprice * (1 - l_discount)) AS revenue"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey"
        " WHERE r_name = '{region}' AND o_orderdate >= DATE '{year}-01-01'"
        " AND o_orderdate < DATE '{year1}-01-01' GROUP BY n_name"),
    "window_top_balances": (
        "SELECT c_mktsegment, c_custkey, c_acctbal, rk FROM ("
        " SELECT c_mktsegment, c_custkey, c_acctbal, row_number() OVER"
        " (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk"
        " FROM customer WHERE c_nationkey = {nation}) t WHERE rk <= {k}"),
    "events_daily_mix": (
        "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,"
        " round(sum(value), 2) AS total FROM events"
        " WHERE ts >= TIMESTAMP '2024-01-{day:02d} 00:00:00'"
        " AND ts < TIMESTAMP '2024-01-{day1:02d} 00:00:00' GROUP BY event_type"),
    "orders_key_range": (
        "SELECT o_orderkey, o_custkey, o_totalprice,"
        " CAST(o_orderdate AS DATE) AS odate, o_orderpriority FROM orders"
        " WHERE o_orderkey >= {lo} AND o_orderkey < {lo} + 40"),
}
#: registry callables of the relational, join, window and TPC-H families
BI_REGISTRY = ("a5_conditional_multi_distinct", "j4_broadcast_dims",
               "w6_ranking", "tpch_q3")
#: zipf exponent of the request parameters
PARAM_ZIPF = 1.1
#: each template is sent this many times per round, with fresh parameters
SQL_PER_ROUND = 4


def _zipf_pick(rng, values, s=PARAM_ZIPF):
    p = np.arange(1, len(values) + 1, dtype=float) ** -s
    return values[int(rng.choice(len(values), p=p / p.sum()))]


def bi_requests(seed: int, round_no: int) -> list[tuple[str, str]]:
    """Round ``round_no`` of the seeded request stream: the SQL templates
    in a fixed order, ``SQL_PER_ROUND`` times, with zipf-skewed seeded
    parameters, and one registry callable after every sixth SQL
    request. The schedule of request kinds is the same for every seed,
    so JIT warm-up falls on the same requests. Entries are
    ``("sql", text)`` or ``("registry", name)``."""
    rng = np.random.default_rng([seed, 10, round_no])
    sql = []
    for _ in range(SQL_PER_ROUND):
        year = _zipf_pick(rng, list(range(1995, 2002)))
        day = _zipf_pick(rng, list(range(1, 29)))
        p = {
            "status": _zipf_pick(rng, ["F", "O", "P"]),
            "year": year, "year1": year + 1,
            "month": _zipf_pick(rng, list(range(1, 13))),
            "region": _zipf_pick(rng, gen.REGIONS),
            "nation": _zipf_pick(rng, list(range(25))),
            "k": _zipf_pick(rng, [3, 5, 10, 20]),
            "lo": _zipf_pick(rng, list(range(0, gen.STAR_ROWS["orders"], 997))),
            "day": day, "day1": day + 2,
        }
        sql += [("sql", tmpl.format(**p)) for tmpl in SQL_TEMPLATES.values()]
    out = []
    reg = iter(BI_REGISTRY)
    for i, req in enumerate(sql):
        out.append(req)
        if i % 6 == 5:
            out.append(("registry", next(reg)))
    return out


class BiMix(Workload):
    name = "bi_mix"
    #: the highest percentile with ten of a round's 28 samples beyond it
    tail_pct = 64

    def prepare(self) -> None:
        self.data = gen.write_tables(self.seed, self.work)
        self.results: list[tuple[tuple[str, str], list, list]] = []

    def setup(self) -> None:
        from datawarehouse_spark.engine import DataWarehouse

        self.dw = DataWarehouse(self.spark, base_path=os.path.join(self.work, "dw"))
        self.dw.register_sources(self.data)
        self.group("setup")
        self.dw.sql("SELECT count(*) AS n FROM orders", advise=False).collect()

    def _one(self, req) -> None:
        from datawarehouse_spark.queries import QUERIES_RAW

        kind, arg = req
        self.next_request()
        if kind == "sql":
            rows, cols = self.call(lambda: self.dw.sql(arg), "sql")
        else:
            rows, cols = self.call(lambda: QUERIES_RAW[arg](self.spark, self.data), arg)
        self.results.append((req, rows, cols))
        self.units += 1

    def measure(self, seconds: float) -> None:
        def run_round(r):
            for req in bi_requests(self.seed, r):
                self._one(req)
        with _quiet_stdout():
            self.rounds(seconds, run_round)

    def repeat_share(self) -> float:
        seen: set = set()
        rep = 0
        for req, _rows, _cols in self.results:
            rep += req in seen
            seen.add(req)
        return rep / len(self.results)

    def check(self) -> list[str]:
        from datawarehouse_spark.queries import ORACLES_RAW

        con = duck({t: os.path.join(self.data, f"{t}.parquet") for t in TABLES},
                   self.work)
        expected: dict = {}
        bad = []
        for req, rows, cols in self.results:
            if rows is None:
                continue
            if req not in expected:
                sql = req[1] if req[0] == "sql" else ORACLES_RAW[req[1]]
                expected[req] = duck_rows(con, sql)
            ok, msg = same_rows(rows, cols, *expected[req])
            if not ok:
                bad.append(f"{req[0]} {req[1][:80]!r}: {msg}")
        con.close()
        return bad

    def named_figures(self):
        f = self.latency_figures()
        return {
            "query_p50_s": (f["latency_p50_s"], "s"),
            f"query_tail_s(p{self.tail_pct} of {len(self.latencies)})":
                (f["latency_tail_s"], "s"),
            "queries_per_s": (f["throughput_per_s"], "1/s"),
            "exact_repeat_share": (self.repeat_share(), "ratio"),
        }


@contextlib.contextmanager
def _quiet_stdout():
    """The advisor prints its lints; keep stdout for the result lines."""
    old = sys.stdout
    sys.stdout = sys.stderr
    try:
        yield
    finally:
        sys.stdout = old


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

#: the pipeline's stages, in order: quality gate, exact dedup with
#: keep-best, MinHash-LSH candidates, near-dup clustering + keep, and
#: within-cluster semantic dedup of the embeddings
CORPUS_STAGES = ("llm_quality_filter", "llm_exact_dedup_keep_best",
                 "llm_minhash_lsh_candidates", "llm_dedup_keep",
                 "llm_semantic_dedup")
#: word-trigram Jaccard at which llm_dedup_keep treats a pair as near-dup
NEAR_DUP_JACCARD = 0.3


class CorpusDedup(Workload):
    name = "corpus_dedup"
    tail_pct = 100
    #: its set-up is under a second, so more repetitions steady the median
    setups = 5

    def prepare(self) -> None:
        self.data = gen.write_corpus(self.seed, self.work)
        self.jobs: list[dict] = []
        self.stage_s: dict[str, list[float]] = {s: [] for s in CORPUS_STAGES}
        # the oracles depend only on the inputs: fill their cache while the
        # first set-up launches the JVM, and wait for it at that set-up's
        # end; the first set-up is never the median one, and peak-RSS
        # sampling starts after it
        self._oracles = threading.Thread(target=self._fill_oracle_cache)
        self._oracles.start()

    def setup(self) -> None:
        from datawarehouse_spark.catalog import load_tables

        load_tables(self.spark, self.data, ("documents", "embeddings"))
        self.group("setup")
        self.spark.sql("SELECT count(*) AS n FROM documents").collect()
        self._oracles.join()

    def _fill_oracle_cache(self) -> None:
        from datawarehouse_spark.queries import ORACLES_RAW

        con = duck({t: os.path.join(self.data, f"{t}.parquet")
                    for t in ("documents", "embeddings")}, self.work)
        for stage in CORPUS_STAGES:
            self._oracle(con, ORACLES_RAW[stage])
        con.close()

    def _job(self) -> None:
        from datawarehouse_spark.queries import QUERIES_RAW

        self.next_request()
        t0 = time.perf_counter()
        out: dict[str, tuple] = {}
        for stage in CORPUS_STAGES:
            n0 = len(self.latencies)
            out[stage] = self.call(lambda: QUERIES_RAW[stage](self.spark, self.data),
                                   stage)
            self.stage_s[stage].append(self.latencies[n0])
            # stage latencies are folded into the job latency below
            del self.latencies[n0:]
            if out[stage][0] is None:
                break
        keep = None
        if all(out.get(s, (None,))[0] is not None for s in CORPUS_STAGES):
            q_rows, q_cols = out["llm_quality_filter"]
            ki = q_cols.index("keep")
            quality_ok = {r[0] for r in q_rows if r[ki]}
            keep = sorted(quality_ok & {r[0] for r in out["llm_dedup_keep"][0]})
        self.latencies.append(time.perf_counter() - t0)
        self.units += gen.CORPUS_DOCS
        self.jobs.append({"stages": out, "keep": keep})

    def measure(self, seconds: float) -> None:
        self.rounds(seconds, lambda r: self._job())

    def _oracle(self, con, sql: str):
        """Oracle rows, cached beside the inputs they were computed from
        (whose directory is keyed by seed and generator code) under a
        hash of the oracle's SQL text."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.data, f"oracle_{key}.parquet")
        if not os.path.exists(path):
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
            os.replace(path + ".tmp", path)
        return duck_rows(con, f"SELECT * FROM read_parquet('{path}')")

    def check(self) -> list[str]:
        from datawarehouse_spark.queries import ORACLES_RAW

        con = duck({t: os.path.join(self.data, f"{t}.parquet")
                    for t in ("documents", "embeddings")}, self.work)
        bad = []
        expected = {s: self._oracle(con, ORACLES_RAW[s]) for s in CORPUS_STAGES}
        q_rows, q_cols = expected["llm_quality_filter"]
        ki = q_cols.index("keep")
        want_keep = sorted({r[0] for r in q_rows if r[ki]}
                           & {r[0] for r in expected["llm_dedup_keep"][0]})
        for j, job in enumerate(self.jobs):
            for stage, (rows, cols) in job["stages"].items():
                if rows is None:
                    continue
                ok, msg = same_rows(rows, cols, *expected[stage])
                if not ok:
                    bad.append(f"job {j} {stage}: {msg}")
            if job["keep"] is not None and job["keep"] != want_keep:
                bad.append(f"job {j} keep-set: {len(job['keep'])} docs, "
                           f"oracle {len(want_keep)}")
        con.close()
        return bad

    def lsh_precision(self) -> float:
        """Verified pairs per LSH candidate pair: the share of candidate
        pairs whose word-trigram Jaccard reaches NEAR_DUP_JACCARD."""
        import pyarrow.parquet as pq

        rows, cols = self.jobs[-1]["stages"]["llm_minhash_lsh_candidates"]
        if not rows:
            return 0.0
        docs = pq.read_table(os.path.join(self.data, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        text = dict(zip(docs["doc_id"], docs["text"]))

        def shingles(t):
            w = t.split(" ")
            return {" ".join(w[i:i + 3]) for i in range(max(1, len(w) - 2))}

        a, b = cols.index("doc_a"), cols.index("doc_b")
        hits = 0
        for r in rows:
            x, y = shingles(text[r[a]]), shingles(text[r[b]])
            hits += len(x & y) / len(x | y) >= NEAR_DUP_JACCARD
        return hits / len(rows)

    def named_figures(self):
        f = self.latency_figures()
        fig = {
            f"job_s(median of {len(self.latencies)})": (f["latency_p50_s"], "s"),
            "docs_per_s": (f["throughput_per_s"], "1/s"),
        }
        for stage, ts in self.stage_s.items():
            if ts:
                fig[f"stage_s[{stage}]"] = (statistics.median(ts), "s")
        keep = self.jobs[-1]["keep"] if self.jobs else None
        if keep is not None:
            fig["keep_set_docs"] = (len(keep), "count")
        return fig

    def layer_figures(self):
        return {"operators.lsh_pair_precision": self.lsh_precision()}


# ---------------------------------------------------------------------------
# ingest_merge
# ---------------------------------------------------------------------------

#: optimize + vacuum run after every MAINT_EVERY-th merged batch, and the
#: read query after each of those; a round is MAINT_EVERY batches, kept
#: short so that a run stays near 45 s on 4 cores
MAINT_EVERY = 4
#: batches generated before the run; later ones are generated on demand
INGEST_PREGEN = 30


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class IngestMerge(Workload):
    name = "ingest_merge"
    tail_pct = 90

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        base = os.path.join(self.work, "inputs", f"ingest_{self.seed}")
        self.stream = gen.IngestStream(self.seed)
        self.initial_path = os.path.join(base, "initial.parquet")
        self.batch_dir = os.path.join(base, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        pq.write_table(self.stream.initial(), self.initial_path)
        self._generate(INGEST_PREGEN)
        self.rep = 0
        self.reads: list[tuple[int, list, list, float]] = []
        self.space_amp: list[float] = []
        self.files_live: list[int] = []
        self.maint_s: list[float] = []
        self.merge_s: list[float] = []

    def _batch_path(self, i: int) -> str:
        return os.path.join(self.batch_dir, f"b{i:05d}.parquet")

    def _generate(self, upto: int) -> None:
        """Generate batch files up to number ``upto`` (each batch depends
        on the ones before it, so they are produced in order)."""
        import pyarrow.parquet as pq

        while self.stream.batch_no < upto:
            t = self.stream.next_batch()
            path = self._batch_path(self.stream.batch_no)
            pq.write_table(t, path + ".tmp")
            os.replace(path + ".tmp", path)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from datawarehouse_spark.sources.snapshot import SnapshotTable
        from datawarehouse_spark.streaming import core

        self.rep += 1
        root = os.path.join(self.work, "ingest", f"rep{self.rep}")
        shutil.rmtree(root, ignore_errors=True)
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.landing)

        def prep(df):
            return core.cleanse(df).drop("k").withColumn("dt", F.to_date("ts"))

        self.group("setup")
        initial = prep(self.spark.read.schema(core.EVENTS_RAW_SCHEMA)
                       .parquet(self.initial_path))
        self.table = SnapshotTable.create(self.spark, initial,
                                          os.path.join(root, "table"),
                                          partition_col="dt")
        self.done = 0
        self.measuring = False
        self.commit_t: dict[int, float] = {}
        self.cv = threading.Condition()
        self.landed = 0

        def merge_batch(df, epoch_id):
            # the callback runs on its own thread: tag its jobs there
            kind = "stream" if self.measuring else "setup"
            self.spark.sparkContext.setJobGroup(
                f"{self.group_prefix}{kind}:{epoch_id}", "stream")
            with self.span("streaming", "foreachBatch"):
                t0 = time.perf_counter()
                # the merge reads its source more than once: compute the
                # batch (and its state update) once
                src = df.drop("landed").persist()
                self.table.merge(src, on="event_id")
                src.unpersist()
                t1 = time.perf_counter()
                n = self.done + 1
                if n % MAINT_EVERY == 0:
                    self.table.optimize()
                    self.table.vacuum(retain_last=1)
                    self.maint_s.append(time.perf_counter() - t1)
                self.merge_s.append(t1 - t0)
            with self.cv:
                self.done = n
                self.commit_t[n] = time.perf_counter()
                self.cv.notify_all()

        # one micro-batch per landed file: no empty batches that only
        # advance the watermark
        self.spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        raw = prep(self.spark.readStream.schema(core.EVENTS_RAW_SCHEMA)
                   .option("maxFilesPerTrigger", "1").parquet(self.landing))
        # stateful dedup of exact re-deliveries: a row is dropped when the
        # same full row landed in the same micro-batch (``landed`` is the
        # batch's timestamp, and its watermark evicts the state of earlier
        # batches); updates of a key differ in their values and pass
        deduped = (raw.withColumn("landed", F.current_timestamp())
                   .withWatermark("landed", "0 seconds")
                   .dropDuplicates([*raw.columns, "landed"]))
        self.query = (deduped.writeStream.foreachBatch(merge_batch)
                      .option("checkpointLocation", os.path.join(root, "ckpt"))
                      .start())
        self._land_and_wait()  # warm-up: the first micro-batch

    def _land_and_wait(self) -> float:
        """Land the next batch file; return its land→commit latency."""
        self.landed += 1
        i = self.landed
        self._generate(i)
        tmp = os.path.join(self.landing, f".b{i:05d}.parquet")
        shutil.copyfile(self._batch_path(i), tmp)
        os.rename(tmp, os.path.join(self.landing, f"b{i:05d}.parquet"))
        t_land = time.perf_counter()
        with self.cv:
            ok = self.cv.wait_for(
                lambda: self.done >= i or not self.query.isActive, timeout=120)
        if not ok or self.done < i:
            exc = self.query.exception()
            raise RuntimeError(f"batch {i} not committed: {exc}")
        return self.commit_t[i] - t_land

    def _read(self) -> None:
        from pyspark.sql import functions as F

        self._req += 1
        self.attempted += 1
        self.group("read")
        t0 = time.perf_counter()
        try:
            with self.span("exec", "read"):
                df = (self.table.read().groupBy("dt", "event_type")
                      .agg(F.count("*").alias("n"),
                           F.round(F.sum("value"), 2).alias("total")))
                rows = df.collect()
            self.reads.append((self.landed, rows, df.columns,
                               time.perf_counter() - t0))
        except Exception:
            self.failed += 1
            self.errors.append(f"read: raised\n{traceback.format_exc()}")

    def _sample_table(self) -> None:
        m = self.table._manifest(self.table.current_version())
        live = sum(os.path.getsize(os.path.join(self.table._ddir, e["file"]))
                   for e in m["files"])
        self.space_amp.append(_dir_bytes(self.table.path) / live)
        self.files_live.append(len(m["files"]))

    def measure(self, seconds: float) -> None:
        import pyarrow.parquet as pq

        self.measuring = True
        data_dir = self.table._ddir
        known = {f: os.path.getsize(os.path.join(data_dir, f))
                 for f in os.listdir(data_dir)}
        self.written = 0
        self.user_bytes = 0
        p0 = len(self.query.recentProgress)

        def run_round(r):
            for _ in range(MAINT_EVERY):
                self.next_request()
                self.attempted += 1
                try:
                    self.latencies.append(self._land_and_wait())
                except Exception:
                    self.failed += 1
                    self.errors.append(f"batch: {traceback.format_exc()}")
                    return
                rows = pq.ParquetFile(self._batch_path(self.landed)).metadata.num_rows
                self.units += rows
                if not self.group_prefix:
                    self.result_rows += rows
                self.user_bytes += os.path.getsize(self._batch_path(self.landed))
                for f in os.listdir(data_dir):
                    if f not in known:
                        known[f] = os.path.getsize(os.path.join(data_dir, f))
                        self.written += known[f]
                self._sample_table()
            if self.tracer is not None:
                self._trace(True)  # reads carry no latency to compare
            self._read()

        self.merge_s.clear()
        self.maint_s.clear()
        self.rounds(seconds, run_round)
        self.progress = [p for p in self.query.recentProgress[p0:]
                         if p["numInputRows"] > 0]

    def teardown(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()
            q.awaitTermination(60)

    def _expected_sql(self, n_batches: int) -> str:
        files = [self._batch_path(i) for i in range(1, n_batches + 1)]
        lst = ", ".join(f"'{f}'" for f in files)
        return f"""
            WITH src AS (
              SELECT *, 0 AS b FROM read_parquet('{self.initial_path}')
              UNION ALL
              SELECT * EXCLUDE (filename),
                     CAST(regexp_extract(filename, 'b(\\d+)\\.parquet', 1) AS INT) AS b
              FROM read_parquet([{lst}], filename = true)
            )
            SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
                   props, CAST(ts AS DATE) AS dt
            FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY b DESC) AS rn
                  FROM src) WHERE rn = 1"""

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        bad = []
        con = duck({}, self.work)
        self.group("check")
        got = (self.table.read()
               .select("event_id", F.unix_micros("ts").alias("ts_us"), "user_id",
                       "event_type", "value", "props", "dt").toPandas())
        con.register("got", got)
        con.execute(f"CREATE TABLE want AS {self._expected_sql(self.landed)}")
        n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                            "SELECT * FROM want)").fetchone()[0]
        missing = con.execute("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL "
                              "SELECT * FROM got)").fetchone()[0]
        if extra or missing or len(got) != n_want:
            bad.append(f"final snapshot: {len(got)} rows vs expected {n_want}, "
                       f"{extra} unexpected, {missing} missing")
        for landed, rows, cols, _lat in self.reads:
            want = duck_rows(con, f"""
                SELECT dt, event_type, count(*) AS n, round(sum(value), 2) AS total
                FROM ({self._expected_sql(landed)}) GROUP BY dt, event_type""")
            ok, msg = same_rows(rows, cols, *want)
            if not ok:
                bad.append(f"read after batch {landed}: {msg}")
        con.close()
        return bad

    def read_p50(self) -> float:
        return statistics.median(r[3] for r in self.reads)

    def named_figures(self):
        f = self.latency_figures()
        return {
            "batch_p50_s": (f["latency_p50_s"], "s"),
            f"batch_tail_s(p{self.tail_pct} of {len(self.latencies)})":
                (f["latency_tail_s"], "s"),
            "ingest_rows_per_s": (f["throughput_per_s"], "1/s"),
            f"read_p50_s(of {len(self.reads)})": (self.read_p50(), "s"),
            "space_amp": (statistics.mean(self.space_amp), "ratio"),
        }

    def layer_figures(self):
        prog = self.progress or [{}]

        def dur(key):
            return statistics.mean(p.get("durationMs", {}).get(key, 0) for p in prog) / 1e3

        return {
            "sources.merge_s": statistics.mean(self.merge_s),
            "sources.write_amp": self.written / self.user_bytes,
            "sources.files_live": statistics.mean(self.files_live),
            "sources.read_s": statistics.mean(r[3] for r in self.reads),
            "sources.maintenance_s": statistics.mean(self.maint_s) if self.maint_s else 0.0,
            "sources.space_amp": statistics.mean(self.space_amp),
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.commit_s": dur("commitOffsets"),
            "streaming.input_rows": statistics.mean(p.get("numInputRows", 0) for p in prog),
            "streaming.state_rows": statistics.mean(
                sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", []))
                for p in prog),
        }


WORKLOADS = {w.name: w for w in (BiMix, CorpusDedup, IngestMerge)}
