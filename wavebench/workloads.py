"""Set-up, the workloads' clients, and the run as a whole.

Set-up (timed as ``setup_s``): session start, base-store ingest, index
and edge build, and a few untimed warm-up rounds.

A round runs one operation cycle on the workload's closed-loop clients,
then lands one live batch file in an inbox: one ``stream_ingest``
(AvailableNow) pass appends it to the store, and a reader probe must
then see exactly the events landed so far.  The measured phase is a
fixed number of rounds set by ``--seconds``: a fixed amount of work, not
a fixed time, so a slow run does not weight its least warmed-up round
more heavily.  Interleaving the cycles and the batches spreads both the
query and the ingest samples over the whole measured phase.

``interactive_lookup``: two closed-loop clients share one SparkSession;
selective, date-bounded, visibility-filtered lookups through the
``QueryLogicFactory`` plus a fixed share through the stored index.

``analytic_scan``: one closed-loop client; unselective
``#GROUPBY``/``#UNIQUE``/CountQuery/DiscoveryQuery over all 30 days,
every result drained.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from wavebench import gen, queries, store
from wavebench.queries import AUTH_SETS, Op
from wavebench.trace import NULL_SPAN, Tracer, job_counts, plan_counters

PAGE = 100
CLIENTS = {"interactive_lookup": 2, "analytic_scan": 1}
CYCLE = {"interactive_lookup": queries.INTERACTIVE_CYCLE,
         "analytic_scan": queries.ANALYTIC_CYCLE}
#: nominal seconds per measured round (one operation cycle plus one
#: live batch) on a 4-core host: ``--seconds`` buys one round per ROUND_S
ROUND_S = {"interactive_lookup": 4.0, "analytic_scan": 4.0}
#: enough rows that analytic scan and shuffle work is a clear share of
#: an operation; a cold ingest costs about 12 s at 50k or 100k events,
#: but each analytic cycle costs a quarter more at 100k, which the run
#: budget (48 runs in 3420 s) cannot afford
BASE_EVENTS = 50_000
LIVE_BATCH_EVENTS = 1_000
#: untimed rounds (about 10 s of either workload) run before measuring:
#: the JVM's JIT compilers keep one to two of the four cores busy for
#: the first half minute, the first stream passes are up to twice as
#: slow as later ones, and measuring inside that warm-up doubled the
#: run-to-run spread
WARMUP_ROUNDS = {"interactive_lookup": 3, "analytic_scan": 2}


@dataclass
class OpRecord:
    op: Op
    op_id: str
    traced: bool
    start: float = 0.0
    first_page_s: float = float("inf")
    total_s: float = float("inf")
    end: float = 0.0
    answer: tuple | None = None
    error: str | None = None
    counters: dict = field(default_factory=dict)
    count: int | None = None         # the answer of a count operation
    wrong: bool = False

    @property
    def failed(self) -> bool:
        return self.error is not None or self.wrong


@dataclass
class Env:
    """Everything an operation needs: session, stored paths, tracer."""
    spark: object
    store: str
    derived: dict
    tracer: Tracer


def _nospan(name: str, op_id: str | None = None):
    return NULL_SPAN


def _pages(df):
    page = []
    for row in df.toLocalIterator():
        page.append(row)
        if len(page) >= PAGE:
            yield page
            page = []
    if page:
        yield page


def run_op(env: Env, op: Op, op_id: str, traced: bool) -> OpRecord:
    """One client operation: open the store, apply the caller's auths,
    create the query, take the first page, drain the rest.  An
    exception makes a failed record with infinite latency."""
    from datawave_spark.plans.factory import QueryLogicFactory, QueryParameters
    from datawave_spark.sources.index_frame import index_query
    from datawave_spark.sources.parquet import read_evolving
    from datawave_spark.visibility import filter_by_auths
    spark = env.spark
    span = env.tracer.span if traced else _nospan
    rec = OpRecord(op, op_id, traced)
    sc = spark.sparkContext
    if traced:
        sc.setJobGroup(op_id, op.cls)
    rec.start = time.perf_counter()
    try:
        with span("op", op_id):
            with span("sources.open"):
                events = read_evolving(spark, env.store)
                edges = (spark.read.parquet(env.derived["edges"])
                         if op.logic == "EdgeQuery" else None)
            with span("visibility.filter"):
                visible = filter_by_auths(events, AUTH_SETS[op.auth])
            if op.logic == "IndexQuery":
                with span("sources.index_lookup"):
                    index = spark.read.parquet(env.derived["index"])
                    df = index_query(
                        visible, index, op.query, "uid",
                        fields={f.upper() for f in store.INDEX_FIELDS},
                        shard_range=(op.begin, op.end), date_col="ts",
                        event_date_col="event_date")
                pages = _pages(df)
            else:
                # begin/end prune on the partition column, as a
                # deployment over a date-partitioned store configures it
                factory = QueryLogicFactory(
                    {"events": visible, "edges": edges},
                    date_col="event_date",
                    discovery_fields=list(queries.DISCOVERY_FIELDS))
                qp = QueryParameters(
                    query=op.query, syntax=op.syntax, begin=op.begin,
                    end=op.end, auths=",".join(AUTH_SETS[op.auth]),
                    pagesize=PAGE, user_dns=("cn=wavebench",))
                with span("plans.create"):
                    rq = factory.create(op.logic, qp)
                df, pages = rq.df, rq.pages()
            if traced:
                with span("plans.optimize"):
                    df._jdf.queryExecution().executedPlan()
            with span("plans.first_page"):
                rows = list(next(pages, []))
            rec.first_page_s = time.perf_counter() - rec.start
            with span("plans.drain"):
                for page in pages:
                    rows.extend(page)
        rec.end = time.perf_counter()
        rec.total_s = rec.end - rec.start
        canon = queries.canon_rows(op, rows)
        rec.answer = queries.digest(canon)
        if op.canon == queries.COUNT and len(canon) == 1:
            rec.count = int(canon[0])
        if traced:
            jobs, tasks = job_counts(spark, op_id)
            rec.counters = dict(plan_counters(df), jobs=jobs, tasks=tasks,
                                rows_returned=len(rows))
    except Exception as exc:  # a failed operation is a result, not a crash
        rec.end = time.perf_counter()
        rec.first_page_s = rec.total_s = float("inf")
        rec.error = f"{type(exc).__name__}: {str(exc)[:300]}"
    finally:
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return rec


# ------------------------------------------------------------- set-up

@dataclass
class Setup:
    session_s: float = 0.0
    ingest_s: float = 0.0
    index_build_s: float = 0.0
    warmup_s: float = 0.0

    @property
    def setup_s(self) -> float:
        return (self.session_s + self.ingest_s + self.index_build_s
                + self.warmup_s)


@dataclass
class Live:
    """What the live batches measured and checked."""
    landed: list[str] = field(default_factory=list)
    busy_s: list[float] = field(default_factory=list)
    fresh_s: list[float] = field(default_factory=list)
    probes: list[OpRecord] = field(default_factory=list)
    check: OpRecord | None = None
    bytes_written: int = 0

    @property
    def events(self) -> int:
        """Events of the timed batches."""
        return len(self.busy_s) * LIVE_BATCH_EVENTS


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return size, files


def land_batch(env: Env, live: Live, work: str, src: str,
               timed: bool) -> None:
    """Land one live batch file in the inbox, run one AvailableNow
    ``stream_ingest`` pass, then probe what a reader sees.  The probe
    must count exactly the events landed so far: fewer is stale or lost
    data, more is a duplicate."""
    inbox = os.path.join(work, "inbox")
    os.makedirs(inbox, exist_ok=True)
    name = os.path.basename(src)
    tmp = os.path.join(inbox, "." + name)         # hidden until renamed
    shutil.copyfile(src, tmp)
    landed_at = time.perf_counter()
    os.rename(tmp, os.path.join(inbox, name))
    live.landed.append(src)
    busy = store.stream_once(env.spark, inbox, env.store,
                             os.path.join(work, "live-checkpoint"))
    k = len(live.landed)
    rec = run_op(env, queries.live_probe(), f"probe{k}", False)
    if rec.error is None and rec.count != k * LIVE_BATCH_EVENTS:
        rec.wrong = True
    live.probes.append(rec)
    if timed:
        live.busy_s.append(busy)
        live.fresh_s.append(rec.end - landed_at)


def _check_live(env: Env) -> OpRecord:
    """Every live event is in the store exactly once; the uuid digest
    is compared with the oracle's after the run."""
    from pyspark.sql import functions as F
    from datawave_spark.sources.parquet import read_evolving
    op = Op("live_check", "-", "-", "-", None, None, 2, queries.UUIDS, "-")
    rec = OpRecord(op, "live_check", False)
    try:
        live = (read_evolving(env.spark, env.store)
                .filter(F.col("event_date")
                        == F.lit(queries.LIVE).cast("date")))
        dup = live.groupBy("uuid").count().filter("count > 1").count()
        rec.answer = queries.digest(
            [r[0] for r in live.select("uuid").collect()])
        rec.wrong = dup > 0
    except Exception as exc:  # a failed check is a result, not a crash
        rec.error = f"{type(exc).__name__}: {str(exc)[:300]}"
    return rec


# -------------------------------------------------------- closed loops

def closed_loop(env: Env, ops: list[Op], clients: int, first: int = 0,
                traced: bool = False, prefix: str = "op") -> list[OpRecord]:
    """``clients`` threads each send their next operation when the last
    one returns, until every one of ``ops`` is done.  ``first`` is the
    index of ``ops[0]`` in the run's operation stream, for the ids."""
    lock = threading.Lock()
    todo = iter(enumerate(ops, first))
    records: list[OpRecord] = []

    def client():
        while True:
            with lock:
                nxt = next(todo, None)
            if nxt is None:
                return
            i, op = nxt
            rec = run_op(env, op, f"{prefix}{i}", traced)
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, name=f"client{c}")
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


# ---------------------------------------------------------------- run

def check_answers(records: list[OpRecord], live: Live, oracle) -> None:
    """Mark every answer that differs from the oracle's as wrong."""
    for rec in records:
        if rec.error is None and rec.answer != oracle.expect(rec.op):
            rec.wrong = True
    chk = live.check
    if chk.error is None and chk.answer != oracle.live_uuids(live.landed):
        chk.wrong = True


@dataclass
class Result:
    workload: str
    setup: Setup
    records: list[OpRecord]
    cycles_s: list[float]            # time of each measured op cycle
    measured_s: float                # the whole measured phase
    tracer: Tracer
    live: Live
    store_bytes: int
    store_files: int
    store_events: int


def run(workload: str, seed: int, seconds: float, traced: bool, work: str,
        cpus: int, session: dict) -> Result:
    """Set up, measure, then check every answer against the oracle.
    The session is left in ``session["spark"]`` for the caller to stop,
    also when this raises."""
    from datawave_spark.sources.parquet import read_evolving
    from wavebench.oracle import Oracle
    from wavebench.trace import install_parser_spans
    rounds = max(2, round(seconds / ROUND_S[workload]))
    warm = WARMUP_ROUNDS[workload]
    manifest = gen.generate(
        os.path.join(work, "raw"), seed,
        gen.Sizes(BASE_EVENTS, LIVE_BATCH_EVENTS, warm + rounds))
    cycle, clients = CYCLE[workload], CLIENTS[workload]
    ops = queries.op_stream(workload, seed, manifest, rounds * cycle)
    warm_ops = queries.op_stream(workload, seed + 7919, manifest,
                                 warm * cycle)
    tracer = Tracer(traced)
    setup = Setup()
    spark, setup.session_s = store.start_session(work, cpus)
    session["spark"] = spark
    if traced:
        install_parser_spans(tracer)

    path = os.path.join(work, "store")
    t0 = time.perf_counter()
    store.ingest_base(spark, manifest, path)
    t1 = time.perf_counter()
    derived = store.build_derived(spark, path, os.path.join(work, "derived"))
    t2 = time.perf_counter()
    env = Env(spark, path, derived, tracer)
    live = Live()
    for r in range(warm):
        closed_loop(env, warm_ops[r * cycle:(r + 1) * cycle], clients,
                    first=r * cycle, prefix="warm")
        land_batch(env, live, work, manifest["live"][r], timed=False)
    setup.ingest_s, setup.index_build_s = t1 - t0, t2 - t1
    setup.warmup_s = time.perf_counter() - t2

    # in a traced run whole rounds alternate traced/untraced, for the
    # tracing-overhead figure
    records: list[OpRecord] = []
    cycles_s: list[float] = []
    before = _dir_stats(path)[0]
    t3 = time.perf_counter()
    for r in range(rounds):
        t = time.perf_counter()
        records += closed_loop(env, ops[r * cycle:(r + 1) * cycle], clients,
                               first=r * cycle, traced=traced and r % 2 == 0)
        cycles_s.append(time.perf_counter() - t)
        land_batch(env, live, work, manifest["live"][warm + r], timed=True)
    measured = time.perf_counter() - t3
    size, files = _dir_stats(path)
    live.bytes_written = size - before
    live.check = _check_live(env)
    events = read_evolving(spark, path).count()

    oracle = Oracle(manifest)
    try:
        check_answers(records, live, oracle)
    finally:
        oracle.close()
    return Result(workload, setup, records, cycles_s, measured, tracer,
                  live, size, files, events)
