"""The three workloads, each one single-threaded client driving one Spark
session in a closed loop, plus the set-up they share.

Each workload runs whole passes over its seeded operation list until the
run's time is spent (and at least its minimum number of passes), then
checks every result outside the timed region. With a Tracer, the same
calls run wrapped in spans and the per-layer metrics are derived from
them.
"""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from snackfs_spark import memo, session
from snackfs_spark.catalog import SnackCatalog
from snackfs_spark.sources import fsmodel, snackstore, tables, writer

from perfbench import checks, procs, stats, streams
from perfbench.spans import NULL_TRACER, STAGE_FIELDS, Tracer, wrap_memos

VIEWS = ("files", "content", "blocks", "ring")


@dataclass
class Run:
    """What a workload needs and what it hands back."""

    sf_dir: str
    seed: int
    seconds: float
    cpus: int
    run_dir: str  # private to this run, removed when it ends
    cache_dir: str  # oracle answers kept across runs
    tracer: Tracer | object = NULL_TRACER
    spark: object = None
    setup_s: float = 0.0
    live_mb: float = 0.0
    pass_s: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)
    pass_steal_s: list[float] = field(default_factory=list)
    ops: int = 0
    tally: checks.Tally = field(default_factory=checks.Tally)
    detail: dict = field(default_factory=dict)  # workload-specific figures
    layer: dict = field(default_factory=dict)  # per-layer metrics (traced)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


class Unsupported(RuntimeError):
    """The program no longer has the shape the benchmark relies on; the
    run stops before measuring anything."""


def rehome(fn, old: str, new: str) -> None:
    """Point a function's hard-coded path constants under `old` at `new`.

    The package keeps its Spark warehouse and its ingest cache under a
    fixed absolute directory shared by every session; the benchmark
    moves both into its run-private dir so runs cannot see each other's
    state and write nowhere but their checkout. A function with no such
    constant raises Unsupported: the run would otherwise write to, and
    get cache hits from, the shared directory."""
    consts = tuple(
        new + c[len(old):] if isinstance(c, str) and c.startswith(old) else c
        for c in fn.__code__.co_consts
    )
    if consts == fn.__code__.co_consts:
        raise Unsupported(f"{fn.__qualname__} has no path constant under {old}")
    fn.__code__ = fn.__code__.replace(co_consts=consts)


@contextlib.contextmanager
def setting_up(run: Run):
    """Count the enclosed work into the run's set-up time."""
    t0 = time.perf_counter()
    yield
    run.setup_s += time.perf_counter() - t0


def _package_var_dir() -> str | None:
    """The absolute `var` dir the package hard-codes for its warehouse and
    ingest cache, read from build_ingest_cache's `<var>/ingest` constant."""
    for c in tables.build_ingest_cache.__code__.co_consts:
        if isinstance(c, str) and c.endswith("/var/ingest"):
            return os.path.dirname(c)
    return None


def start_session(run: Run) -> None:
    """Start the JVM and the Spark session, with the package's warehouse
    and ingest cache moved into the run-private dir."""
    tr = run.tracer
    var = _package_var_dir()
    if var is None:
        raise Unsupported("tables.build_ingest_cache has no <var>/ingest path constant")
    rehome(session.get_spark, var, run.path("var"))
    rehome(tables.build_ingest_cache, var, run.path("var"))
    with tr.span("session.start"):
        run.spark = session.get_spark("perfbench", cpus=run.cpus)
    warehouse = run.spark.conf.get("spark.sql.warehouse.dir")
    if not warehouse.removeprefix("file:").startswith(run.path("var")):
        raise Unsupported(f"the Spark warehouse is {warehouse}, outside the run's dir")
    if tr.enabled:
        tr.sc = run.spark.sparkContext


def ingest(run: Run) -> None:
    """Ingest the fact tables into a fresh private dir (never a cache hit)."""
    with run.tracer.span("tables.ingest", job_group=True):
        root = tables.build_ingest_cache(run.spark, run.sf_dir)
    private = run.path("var", "ingest")
    done = [d for d, _, names in os.walk(private) if "_SUCCESS" in names]
    if not root.startswith(private + os.sep) or not done:
        raise Unsupported(f"the ingest wrote to {root}, not into {private}")


def build_views(run: Run) -> None:
    """Build and cache the fsmodel views the catalog reads."""
    with run.tracer.span("fsmodel.views", job_group=True):
        for view in VIEWS:
            getattr(fsmodel, f"{view}_df")(run.spark, run.sf_dir).count()


def namespace(sf_dir: str) -> streams.Namespace:
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    return streams.Namespace(tuple((int(d), s) for d, s in rows))


def _keep_going(run: Run, t_start: float, min_passes: int) -> bool:
    return len(run.pass_s) < min_passes or time.perf_counter() - t_start < run.seconds


@contextlib.contextmanager
def timed_pass(run: Run):
    """Record one pass's wall time, the CPU time it cost and the CPU time
    the host stole meanwhile."""
    cpu0, steal0 = procs.tree_cpu_s(os.getpid()), procs.steal_s()
    t0 = time.perf_counter()
    yield
    run.pass_s.append(time.perf_counter() - t0)
    run.pass_cpu_s.append(procs.tree_cpu_s(os.getpid()) - cpu0)
    run.pass_steal_s.append(procs.steal_s() - steal0)


LIVE_GC_ROUNDS = 10
LIVE_GC_WAIT_S = 0.5  # lets the ContextCleaner act between GCs
# Stopping at the first GC that freed nothing read about 78 MB too high in
# 2 of 14 pipeline runs: the cleaner had not dropped the memo blocks yet.
LIVE_GC_STEADY_ROUNDS = 2


def record_live_memory(run: Run) -> None:
    """Memory the session holds once the timed passes are done and the
    garbage is gone: live JVM heap (cached views, memo
    checkpoints), JVM non-heap (classes, JIT code) and the Python
    driver's resident set. Taken before the checks, whose DuckDB work
    would count in the Python figure.

    Garbage goes in steps: Python objects in reference cycles still pin
    JVM objects through py4j until Python's own collector runs, and
    Spark's ContextCleaner drops the blocks of collected RDDs on its own
    thread after a GC. A single GC left 100-200 MB of such garbage in a
    pipeline run, so the JVM collects until the heap has stopped
    shrinking for LIVE_GC_STEADY_ROUNDS GCs in a row."""
    jvm = run.spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()
    heap, steady = None, 0
    for _ in range(LIVE_GC_ROUNDS):
        jvm.java.lang.System.gc()
        prev, heap = heap, mem.getHeapMemoryUsage().getUsed()
        steady = steady + 1 if prev is not None and heap > 0.99 * prev else 0
        if steady == LIVE_GC_STEADY_ROUNDS:
            break
        time.sleep(LIVE_GC_WAIT_S)
    jvm_bytes = heap + mem.getNonHeapMemoryUsage().getUsed()
    run.live_mb = jvm_bytes / 2**20 + procs.status_mb(os.getpid(), "VmRSS")


def _ms(values: list[float]) -> list[float]:
    return [v * 1e3 for v in values]


# ---- fs_meta ----------------------------------------------------------------

FS_MIN_PASSES = 2  # 40 calls: p75 has 10 samples beyond it


def _fs_call(cat: SnackCatalog, call: streams.FsCall, tr) -> object:
    """One catalog call as a user makes it; returns (columns, rows) or
    the opened text."""
    if call.kind == "open":
        with tr.span("spark.exec", job_group=True, kind="open"):
            return cat.open(call.path)
    with tr.span("catalog.construct", job_group=True, kind=call.kind):
        if call.kind == "block_locations":
            df = cat.block_locations().filter(F.col("path") == call.path)
        else:
            df = getattr(cat, call.kind)(call.path)
    if tr.enabled:
        with tr.span("spark.plan", job_group=True):
            df._jdf.queryExecution().executedPlan()
    with tr.span("spark.exec", job_group=True, kind=call.kind):
        rows = df.collect()
    return df.columns, rows


def fs_meta(run: Run) -> None:
    with setting_up(run):
        start_session(run)
        build_views(run)
    tr = run.tracer
    ns = namespace(run.sf_dir)
    cat = SnackCatalog(run.spark, run.sf_dir)
    results, latencies = [], []

    def one_pass(calls: list[streams.FsCall], tracer) -> None:
        for call in calls:
            t = time.perf_counter()
            with tracer.span("catalog.call", kind=call.kind, path=call.path):
                try:
                    out = _fs_call(cat, call, tracer)
                except Exception as e:  # noqa: BLE001 - checked against the oracle below
                    out = e
            latencies.append(time.perf_counter() - t)
            results.append((call, out))

    # untimed: one call of each kind, to a present and to a missing path,
    # while the JIT compiles the call paths. The first timed pass is
    # still up to 27% slower than the second.
    passes = streams.fs_meta_passes(run.seed, ns)
    one_pass(list({(c.kind, c.exists): c for c in next(passes)}.values()), NULL_TRACER)
    latencies.clear()
    t_start = time.perf_counter()
    for calls in passes:
        if not _keep_going(run, t_start, FS_MIN_PASSES):
            break
        with timed_pass(run):
            one_pass(calls, tr)
    run.ops = len(results)
    record_live_memory(run)

    con = checks.duckdb_views(run.sf_dir, run.path("tmp"))
    for call, out in results:
        if isinstance(out, tuple):
            out = pd.DataFrame.from_records(out[1], columns=out[0])
        expected = checks.fs_expected(con, call.kind, call.path)
        run.tally.record(f"{call.kind} {call.path}", checks.fs_problems(expected, out))
    con.close()

    run.detail.update(
        calls=len(latencies),
        call_p50_ms=stats.percentile(_ms(latencies), 50),
        call_p75_ms=stats.percentile(_ms(latencies), 75),
        calls_per_s=len(latencies) / sum(run.pass_s),
        missing_path_calls=sum(not c.exists for c, _ in results),
    )
    if tr.enabled:
        calls = tr.named("catalog.call")
        child_s = {}
        for s in tr.spans:
            if s["parent"] is not None and tr.spans[s["parent"]]["name"] == "catalog.call":
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + tr.duration(s)
        traced_ms = _ms([child_s.get(c["id"], 0.0) for c in calls])
        run.layer.update({
            "catalog.call_p50_ms": stats.percentile(traced_ms, 50),
            "catalog.call_p75_ms": stats.percentile(traced_ms, 75),
        })


# ---- store_rw ---------------------------------------------------------------

# untimed, and smaller than a timed pass: it starts the connector's
# Python workers and compiles the write and read paths
STORE_WARMUP_DOCS = 25
STORE_MIN_PASSES = 1
STORE_BUCKETS = snackstore.DEFAULT_BUCKETS


def _reassemble(reader):
    """Every file's text from its chunks, ordered by sub_offset."""
    return reader.groupBy("path").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub_offset", "payload"))),
                lambda s: s.getField("payload"),
            ),
            "",
        ).alias("text")
    )


def _store_files(root: str) -> tuple[int, int]:
    """(files, allocated bytes) of everything under a store dir."""
    n = allocated = 0
    for d, _, names in os.walk(root):
        for name in names:
            n += 1
            allocated += os.stat(os.path.join(d, name)).st_blocks * 512
    return n, allocated


def _scan_output_rows(df) -> int:
    """Rows the scan nodes of an executed DataFrame emitted, from Spark's
    `numOutputRows` SQL metric: what the connector's reader returned to
    Spark, before any filter Spark applies after the scan."""
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if "Scan" in cls and node.metrics().contains("numOutputRows"):
            total += node.metrics().apply("numOutputRows").value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total


@dataclass
class _StorePasses:
    """Per-pass store figures of the timed passes; each is reported as
    its median over passes."""

    write_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)  # mean per pass
    user_bytes: list[int] = field(default_factory=list)
    files: list[int] = field(default_factory=list)
    allocated: list[int] = field(default_factory=list)
    chunk_rows: list[int] = field(default_factory=list)
    scanned: int = 0  # rows the lookups' scans emitted, over the run, with
    returned: int = 0  # the rows the lookups returned


def _store_pass(run: Run, docs, sp: streams.StorePass, texts: dict[str, str],
                root: str, tr, totals: _StorePasses, timed: bool = True) -> None:
    """Write sp's documents into a fresh store at root, read them back
    (full reassembly, point lookups, metadata listings) as one pass,
    timed unless it is a warm-up, then check it all and remove the
    store."""
    spark = run.spark
    with timed_pass(run) if timed else contextlib.nullcontext():
        with tr.span("writer.chunk"):
            chunks = writer.chunk_text(
                docs.filter(F.col("doc_id").isin(list(sp.doc_ids)))
            ).select("path", "sub_offset", "length", "payload")
        # each layer time is taken inside its span, so a traced run's
        # figures leave out the tracer's own work
        with tr.span("snackstore.write", job_group=True):
            t = time.perf_counter()
            (
                chunks.write.format("snackstore")
                .option("store_dir", root)
                .option("buckets", STORE_BUCKETS)
                .mode("append")
                .save()
            )
            totals.write_s.append(time.perf_counter() - t)
        reader = spark.read.format("snackstore").option("store_dir", root).load()
        with tr.span("snackstore.scan", job_group=True):
            t = time.perf_counter()
            scanned = _reassemble(reader).collect()
            totals.scan_s.append(time.perf_counter() - t)
        got_lookups, lookup_dfs, lookup_s = [], [], 0.0
        for path in sp.lookups:
            with tr.span("snackstore.lookup", job_group=True):
                t = time.perf_counter()
                lookup_dfs.append(reader.filter(F.col("path") == path))
                got_lookups.append(lookup_dfs[-1].collect())
                lookup_s += time.perf_counter() - t
        totals.lookup_s.append(lookup_s / len(sp.lookups))
        got_listings = []
        for prefix in sp.listings:
            with tr.span("snackstore.listing", job_group=True):
                rows = (
                    spark.read.format("snackstore")
                    .option("store_dir", root)
                    .option("columns", "path,sub_offset,length")
                    .load()
                    .filter(F.col("path").startswith(prefix))
                    .select("path", "sub_offset", "length")
                    .collect()
                )
            got_listings.append(rows)

    # outside the timed pass: correctness, space, then the store goes
    got_text = {r["path"]: r["text"] for r in scanned}
    expected = {p: checks.expected_chunks(p, t) for p, t in texts.items()}
    run.tally.record(f"{root} write+scan", checks.text_problems(texts, got_text))
    for path, rows in zip(sp.lookups, got_lookups):
        run.tally.record(
            f"lookup {path}", checks.rows_problems(expected[path], [tuple(r) for r in rows])
        )
    for prefix, rows in zip(sp.listings, got_listings):
        want = [c[:3] for p, cs in expected.items() if p.startswith(prefix) for c in cs]
        run.tally.record(
            f"listing {prefix}", checks.rows_problems(want, [tuple(r) for r in rows])
        )
    n, b = _store_files(root)
    totals.files.append(n)
    totals.allocated.append(b)
    totals.user_bytes.append(sum(len(t.encode()) for t in texts.values()))
    totals.chunk_rows.append(sum(len(c) for c in expected.values()))
    totals.scanned += sum(_scan_output_rows(df) for df in lookup_dfs)
    totals.returned += sum(len(r) for r in got_lookups)
    shutil.rmtree(root)
    run.ops += 2 + len(sp.lookups) + len(sp.listings)


def store_rw(run: Run) -> None:
    with setting_up(run):
        start_session(run)
        snackstore.register(run.spark)
    tr, spark = run.tracer, run.spark
    ns = namespace(run.sf_dir)
    con = duckdb.connect()
    text_of = dict(
        con.execute(
            f"SELECT doc_id, text FROM read_parquet('{run.sf_dir}/documents.parquet')"
        ).fetchall()
    )
    con.close()
    source_of = dict(ns.docs)
    docs = tables.load_table(spark, run.sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("/data/"), F.col("source"), F.lit("/doc_"),
            F.col("doc_id").cast("string"), F.lit(".txt"),
        ).alias("path"),
        "text",
    )

    def texts(sp: streams.StorePass) -> dict[str, str]:
        return {streams.doc_path(d, source_of[d]): text_of[d] for d in sp.doc_ids}

    sp = next(streams.store_passes(run.seed, ns, STORE_WARMUP_DOCS))
    _store_pass(run, docs, sp, texts(sp), run.path("warmup"), NULL_TRACER,
                _StorePasses(), timed=False)
    passes = streams.store_passes(run.seed, ns)
    totals = _StorePasses()
    t_start = time.perf_counter()
    for i, sp in enumerate(passes):
        if not _keep_going(run, t_start, STORE_MIN_PASSES):
            break
        _store_pass(run, docs, sp, texts(sp), run.path(f"store{i}"), tr, totals)
    record_live_memory(run)

    med = stats.median
    user_bytes = med(totals.user_bytes)
    run.detail.update(
        write_mb_per_s=user_bytes / med(totals.write_s) / 1e6,
        scan_mb_per_s=user_bytes / med(totals.scan_s) / 1e6,
        lookup_ms=med(totals.lookup_s) * 1e3,
        stored_bytes_per_user_byte=sum(totals.allocated) / sum(totals.user_bytes),
        user_bytes_per_pass=user_bytes,
    )
    if tr.enabled:
        lookups = tr.named("snackstore.lookup")
        run.layer.update({
            "snackstore.write_s": med(totals.write_s),
            "snackstore.files_written": med(totals.files),
            "snackstore.bytes_written": med(totals.allocated),
            "snackstore.scan_s": med(totals.scan_s),
            "snackstore.partitions_per_lookup": sum(s["stages"]["tasks"] for s in lookups)
            / len(lookups),
            "snackstore.rows_scanned_per_row_returned": totals.scanned / totals.returned,
            "snackstore.write_mb_per_s": run.detail["write_mb_per_s"],
            "snackstore.scan_mb_per_s": run.detail["scan_mb_per_s"],
            "snackstore.lookup_ms": run.detail["lookup_ms"],
            "snackstore.stored_bytes_per_user_byte": run.detail["stored_bytes_per_user_byte"],
            "writer.chunk_rows": med(totals.chunk_rows),
        })


# ---- pipeline ---------------------------------------------------------------

PIPELINE_MIN_PASSES = 1


def _memo_names() -> dict[int, str]:
    """id(SessionMemo instance) -> the module global holding it."""
    import sys

    names = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("snackfs_spark."):
            for attr, value in vars(mod).items():
                if isinstance(value, memo.SessionMemo):
                    names[id(value)] = attr
    return names


def pipeline(run: Run) -> None:
    import oracle_harness

    from snackfs_spark.registry import load_all

    with setting_up(run):
        start_session(run)
        ingest(run)
        registry = load_all()
    tr, spark = run.tracer, run.spark
    unwrap = wrap_memos(tr, _memo_names()) if tr.enabled else None
    per_query: dict[str, list[float]] = {}
    t_start = time.perf_counter()
    while _keep_going(run, t_start, PIPELINE_MIN_PASSES):
        memo.clear_all_memos()
        with timed_pass(run):
            for name in streams.PIPELINE_QUERIES:
                t = time.perf_counter()
                with tr.span("pipeline.query", query=name):
                    with tr.span("operators.construct", job_group=True, query=name):
                        df = registry[name].fn(spark, run.sf_dir)
                    if tr.enabled:
                        with tr.span("spark.plan", job_group=True):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("spark.exec", job_group=True, query=name):
                        df.write.mode("overwrite").format("noop").save()
                per_query.setdefault(name, []).append(time.perf_counter() - t)
        run.ops += len(streams.PIPELINE_QUERIES)
    if unwrap is not None:
        unwrap()  # the checks below re-run the queries; keep them out of the counts
    record_live_memory(run)

    con = oracle_harness.duckdb_connection(run.sf_dir)
    con.execute(f"SET temp_directory = '{run.path('tmp')}'")
    for name in streams.PIPELINE_QUERIES:
        query = registry[name]
        try:
            got = query.fn(spark, run.sf_dir).toPandas()
            want = checks.oracle_frame(con, query.oracle, run.sf_dir, run.cache_dir)
            problems = oracle_harness.compare(got, want)
        except Exception as e:  # noqa: BLE001 - a crash is a failed check
            problems = [f"raised {type(e).__name__}: {e}"]
        run.tally.record(name, problems)
    con.close()
    run.detail["query_s"] = {q: stats.median(v) for q, v in per_query.items()}


# ---- per-layer metrics common to every workload -------------------------------

# name -> unit of every per-layer metric (the per_layer list of
# BENCHMARK.json). Pass-level figures are per pass.
PER_LAYER = {
    "session.start_s": "s", "tables.ingest_s": "s", "tables.ingest_files": "count",
    "fsmodel.views_s": "s",
    "catalog.construct_ms": "ms", "catalog.call_p50_ms": "ms", "catalog.call_p75_ms": "ms",
    "spark.plan_ms": "ms", "spark.jobs_per_op": "count",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "memo.builds": "count", "memo.hits": "count", "memo.hit_ratio": "ratio",
    "memo.build_s": "s",
    "spark.exec_s": "s", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "snackstore.write_s": "s", "snackstore.files_written": "count",
    "snackstore.bytes_written": "bytes", "snackstore.write_mb_per_s": "MB/s",
    "snackstore.stored_bytes_per_user_byte": "ratio",
    "snackstore.scan_s": "s", "snackstore.scan_mb_per_s": "MB/s",
    "snackstore.lookup_ms": "ms", "snackstore.partitions_per_lookup": "count",
    "snackstore.rows_scanned_per_row_returned": "ratio",
    "writer.chunk_rows": "count",
    "trace.pass_s": "s", "trace.bookkeeping_s": "s",
}
ACTION_SPANS = (
    "spark.exec", "snackstore.write", "snackstore.scan",
    "snackstore.lookup", "snackstore.listing",
)


def layer_metrics(run: Run) -> dict[str, float]:
    """Every per-layer metric for a traced run; 0 for a layer the
    workload does not exercise. Pass-level figures are per pass."""
    tr = run.tracer
    passes = len(run.pass_s)
    dur = tr.duration

    def total(name: str) -> float:
        return sum(dur(s) for s in tr.named(name))

    def outermost(name: str) -> list[dict]:
        """Spans of `name` not nested in another span of the same name
        (a memo build that triggers another memo's build counts once)."""
        out = []
        for s in tr.named(name):
            p = s["parent"]
            while p is not None and tr.spans[p]["name"] != name:
                p = tr.spans[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def median_ms(name: str) -> float:
        spans = tr.named(name)
        return stats.median(_ms([dur(s) for s in spans])) if spans else 0.0

    ingest_root = run.path("var", "ingest")
    ingest_files = sum(
        n.endswith(".parquet") for _, _, ns in os.walk(ingest_root) for n in ns
    )
    builds, hits = tr.counters["memo.builds"], tr.counters["memo.hits"]
    work = tr.stage_sum(tuple(n for n in {s["name"] for s in tr.spans}
                              if n not in ("tables.ingest", "fsmodel.views")))
    actions = tr.stage_sum(ACTION_SPANS)
    n_actions = sum(len(tr.named(n)) for n in ACTION_SPANS)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({
        "session.start_s": total("session.start"),
        "tables.ingest_s": total("tables.ingest"),
        "tables.ingest_files": ingest_files,
        "fsmodel.views_s": total("fsmodel.views"),
        "catalog.construct_ms": median_ms("catalog.construct"),
        "spark.plan_ms": median_ms("spark.plan"),
        "spark.jobs_per_op": actions.get("jobs", 0.0) / n_actions if n_actions else 0.0,
        "operators.construct_s": total("operators.construct") / passes,
        "operators.construct_jobs": tr.stage_sum(("operators.construct",)).get("jobs", 0.0)
        / passes,
        "memo.builds": builds / passes,
        "memo.hits": hits / passes,
        "memo.hit_ratio": hits / (hits + builds) if hits + builds else 0.0,
        "memo.build_s": sum(dur(s) for s in outermost("memo.build")) / passes,
        "spark.exec_s": sum(total(n) for n in ACTION_SPANS) / passes,
        "trace.pass_s": stats.median(run.pass_s),
        "trace.bookkeeping_s": tr.bookkeeping_s / passes,
    })
    for field_name in STAGE_FIELDS:
        out[f"spark.{field_name}"] = work.get(field_name, 0.0) / passes
    out.update(run.layer)
    return out


WORKLOADS = {"fs_meta": fs_meta, "store_rw": store_rw, "pipeline": pipeline}
