"""Benchmark of the crawl engine, end to end and layer by layer.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 30 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

* ``crawl_bfs`` -- a BFS drain from the root seeds of a synthetic world with
  a politeness budget on the hot host and the segmented bloom pre-filter
  forced on, until the frontier is empty.  Checked per batch against
  ``plans.sim.simulate``.
* ``queries``   -- a fixed list of ``__spark_entry__.queries()`` over seeded
  tables, each collected and checked against its DuckDB oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` repeats that
procedure with the Spark event log on and prints the per-layer metrics.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import importlib
import inspect
import json
import os
import pickle
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import spans as T  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
# the inputs are small; a small heap bounds how far the JVM grows, which
# varied by 0.7 GB between runs at 3g
DRIVER_MEMORY = "1g"

# crawl_bfs: a world small enough that one drain fits a run; hot-host
# crawl delay 0.3 s gives a politeness budget of 100 fetches per batch
CRAWL_WORLD = dict(n_pages=12, images_per_page=1, branching=6, crawl_delay_hot_host=0.3)
SEED_REPS = 2  # DrainLoop construction + seed() repeats inside set-up

# queries: the list is fixed so runs are comparable (the full 46 do not fit
# one run on a 4-core host).  Queries that compare cosines rounded to 4
# decimals are left out: on 2 of 19 seeded tables a value on a rounding
# boundary differed from DuckDB's in the last digit.  The similarity
# operators run inside the two recall-floor queries, whose outputs are
# booleans.
QUERIES = [
    "claim_topk",
    "events_windowed",
    "dedup_exact",
    "dedup_jaccard_words",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "drop_near_dups",
    "dedup_simhash",
    "ann_recall_floor",
    "ann_ivf_recall_floor",
    "text_quality",
    "image_features",
    "audio_features_sanity",
]
WARMUP_QUERIES = ["claim_topk", "text_quality", "cosine_topk"]

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s.p50": "s",
    "items_per_s": "1/s",
    "peak_mem_mb": "MB",
}
PER_LAYER = {
    "pipeline.jobs_per_batch": "count",
    "pipeline.self_s": "s",
    "pipeline.claim_task_s": "s",
    "pipeline.fetch_ratio": "ratio",
    "pipeline.publish_ratio": "ratio",
    "catalog.commit_s": "s",
    "catalog.commit_jobs": "count",
    "catalog.read_s": "s",
    "catalog.write_mb": "MB",
    "catalog.files_written": "count",
    "catalog.live_mb": "MB",
    "extract.py_s": "s",
    "extract.links_out": "count",
    "urlnorm.py_s": "s",
    "urlnorm.rows": "count",
    "seen.bloom_py_s": "s",
    "seen.bloom_jobs": "count",
    "seen.bloom_maybe_ratio": "ratio",
    "dedup.s": "s",
    "dedup.jobs": "count",
    "dedup.shuffle_mb": "MB",
    "similarity.s": "s",
    "similarity.jobs": "count",
    "similarity.py_s": "s",
    "sql.s": "s",
    "spark.jobs": "count",
    "spark.task_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.py_start_s": "s",
    "trace.overhead": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# program imports, session, processes
# ---------------------------------------------------------------------------


def import_program():
    """Import the program under test; raises when the checkout lacks it."""
    for p in (ROOT, os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)
    mods = {
        "pipeline": importlib.import_module("govuk_crawler_worker_spark.plans.pipeline"),
        "sim": importlib.import_module("govuk_crawler_worker_spark.plans.sim"),
        "schemas": importlib.import_module("govuk_crawler_worker_spark.plans.schemas"),
        "catalog": importlib.import_module("govuk_crawler_worker_spark.sources.catalog"),
        "world": importlib.import_module("govuk_crawler_worker_spark.sources.world"),
        "entry": importlib.import_module("__spark_entry__"),
        "oracle": importlib.import_module("oracle_compare"),
    }
    mods["package_dir"] = os.path.dirname(importlib.import_module("govuk_crawler_worker_spark").__file__)
    return mods


def prepare_env(work: str) -> None:
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def start_session(work: str, aqe: bool, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
        )
    )
    # set either way: the builder keeps options across sessions
    b = b.config("spark.eventLog.enabled", str(event_log is not None).lower())
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        b = b.config("spark.eventLog.dir", event_log).config("spark.eventLog.compress", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM and wait until every process the run
    started (the JVM, the Python worker daemon and its workers, which outlive
    the JVM by a moment) has ended."""
    from pyspark import SparkContext

    started = T.descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 -- already gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        left = [p for p in started if _alive(p)]
        if not left:
            return
        for pid in left if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and any(_alive(p) for p in left):
            time.sleep(0.1)


def host_info(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "task_slots": CORES,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "pyspark": pyspark.__version__,
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_memory": DRIVER_MEMORY,
    }


# ---------------------------------------------------------------------------
# references (computed once per input and cached; never timed)
# ---------------------------------------------------------------------------


def source_hash(*modules) -> str:
    """Hash of the source files behind a cached reference, so an edit to
    the generator or the simulator invalidates it."""
    h = hashlib.sha256()
    for m in modules:
        with open(m.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cached(key: str, compute):
    """``compute()``, pickled in the checkout's cache under ``key``."""
    path = os.path.join(CACHE, hashlib.sha256(key.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    value = compute()
    os.makedirs(CACHE, exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(value, fh)
    os.replace(tmp, path)
    return value


def install_duck_cache(oracle, data_key: str) -> None:
    """Route ``oracle_compare.duck_run`` through a cache keyed by the input
    tables and the SQL text."""
    original = oracle.duck_run

    def duck_run(sql, sf_dir):
        sql_hash = hashlib.sha256(sql.encode()).hexdigest()
        return cached(f"duck:{data_key}:{sql_hash}", lambda: original(sql, sf_dir))

    oracle.duck_run = duck_run


# ---------------------------------------------------------------------------
# crawl_bfs
# ---------------------------------------------------------------------------


class CrawlWorkload:
    aqe = False  # the timed-drain setting of bench.make_spark

    def __init__(self, mods, seed: int, work: str, tracer):
        self.mods, self.work, self.tracer = mods, work, tracer
        world = mods["world"]
        self.world = world.build_world(seed=seed, **CRAWL_WORLD)
        self.warm_world = world.build_world(seed=seed + 1_000_003, **CRAWL_WORLD)
        key = f"{seed}:{sorted(CRAWL_WORLD.items())}:{source_hash(mods['sim'], mods['world'])}"
        self.sim = cached(
            "sim:" + key,
            lambda: mods["sim"].simulate(self.world.content, self.world.seeds, self.world.config),
        )
        self.n_catalogs = 0
        self.commit_files = 0
        self.commit_bytes = 0
        self.measure_commits = False

    def _catalog(self, spark):
        self.n_catalogs += 1
        root = os.path.join(self.work, f"catalog_{self.n_catalogs}")
        cat = self.mods["catalog"].Catalog(spark, root)
        for m in ("read", "read_buckets"):
            self.tracer.wrap(cat, m, "catalog.read")
        commit = cat.commit
        tracer = self.tracer

        def traced_commit(*a, **kw):
            before = T.dir_stats(root) if self.measure_commits else None
            try:
                with tracer.span("catalog.commit"):
                    return commit(*a, **kw)
            finally:
                if before is not None:
                    new = {p: s for p, s in T.dir_stats(root).items() if p not in before}
                    self.commit_files += len(new)
                    self.commit_bytes += sum(new.values())

        cat.commit = traced_commit
        return cat

    def _loop(self, spark, world, frames):
        content, payload, _seeds = frames
        cat = self._catalog(spark)
        loop = self.mods["pipeline"].DrainLoop(
            spark, cat, world.config, content, payload, bloom_min_batch=0
        )
        self.tracer.wrap(loop, "seed", "pipeline.seed")
        self.tracer.wrap(loop, "run_batch", "pipeline.run_batch")
        return cat, loop

    def _frames(self, spark, world):
        payload, content, seeds = self.mods["world"].world_to_spark(spark, world)
        return content.cache(), payload.cache(), seeds

    def warmup(self, spark) -> None:
        """seed() of a same-size world on another seed: loads the classes,
        starts the Python workers and warms the commit path.  A warm-up
        batch as well cost 17 s a run on a 4-vCPU host and took only 3 s
        off the pass, and the run budget has no room for it."""
        frames = self._frames(spark, self.warm_world)
        _cat, loop = self._loop(spark, self.warm_world, frames)
        loop.seed(frames[2])
        for df in frames[:2]:
            df.unpersist()

    def setup(self, spark):
        """Repeated DrainLoop construction + seed(); returns their median
        time and the last loop, which the measured pass drains."""
        with self.tracer.span("bench.inputs"):
            self.frames = self._frames(spark, self.world)
        times = []
        for _ in range(SEED_REPS):
            t = time.monotonic()
            cat, loop = self._loop(spark, self.world, self.frames)
            loop.seed(self.frames[2])
            times.append(time.monotonic() - t)
        self.cat, self.loop = cat, loop
        return median(times)

    def run_pass(self, spark) -> dict:
        """Drain to an empty frontier; one op per batch plus the seen map."""
        loop, cat = self.loop, self.cat
        first = len(self.tracer.spans)
        with self.tracer.span("bench.pass") as pspan:
            try:
                stats = loop.drain(max_batches=200)
            except Exception as e:  # noqa: BLE001 -- failed ops, reported
                log(f"drain raised {type(e).__name__}: {e}")
                stats = None
        batches = [
            s for s in self.tracer.spans[first:] if s.name == "pipeline.run_batch"
        ]
        if stats is None:
            ops = [f"batch {i}" for i in range(len(batches))] + ["seen"]
            return {"pass_s": pspan.duration, "op_times": [], "items": 0,
                    "attempted": len(ops), "failed": ops, "pass_span": first}
        drain_s = pspan.end - batches[0].start
        S = self.mods["schemas"]
        with self.tracer.span("bench.check"):
            fetched = cat.read("fetched", S.FETCHED_SCHEMA).select("batch_id", "url_canon").collect()
            dead = cat.read("dead", S.DEAD_SCHEMA).select("url_canon", "reason", "batch_id").collect()
            seen = cat.read("seen", S.SEEN_SCHEMA).select("url_canon", "state").collect()
        ops, failed = check.drain_failures(
            [s.batch_id for s in stats], fetched, dead, seen, self.sim
        )
        for df in self.frames[:2]:
            df.unpersist()
        return {
            "live_mb": live_catalog_mb(self.mods, cat),
            "pass_s": drain_s,
            "op_times": [s.duration for s in batches],
            "items": sum(s.fetched for s in stats),
            "attempted": len(ops),
            "failed": failed,
            "stats": stats,
            "pass_span": first,
        }


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def query_modules(entry) -> dict[str, set[str]]:
    """Query name -> operator modules its function (and the module-level
    helpers it calls) imports from; empty for plain Spark SQL queries."""
    tree = ast.parse(inspect.getsource(entry))
    funcs = {f.name: f for f in tree.body if isinstance(f, ast.FunctionDef)}

    def mods(name, seen):
        out = set()
        for node in ast.walk(funcs[name]):
            if isinstance(node, ast.ImportFrom) and node.module and ".operators." in node.module:
                out.add(node.module.rsplit(".", 1)[1])
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in funcs
                and node.func.id not in seen
            ):
                seen.add(node.func.id)
                out |= mods(node.func.id, seen)
        return out

    fns = entry.queries()
    return {q: mods(fns[q].__name__, {fns[q].__name__}) for q in fns}


class QueryWorkload:
    aqe = True  # queries and tests run with AQE on

    def __init__(self, mods, seed: int, work: str, tracer):
        self.mods, self.tracer = mods, tracer
        entry = mods["entry"]
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [q for q in QUERIES if q not in self.fns]
        if missing:
            raise KeyError(f"queries missing from __spark_entry__.queries(): {missing}")
        version = source_hash(datagen)
        self.data = os.path.join(CACHE, f"tables_{seed}_{version}")
        self.warm_data = os.path.join(CACHE, f"tables_{seed + 1_000_003}_{version}")
        for d, s in ((self.data, seed), (self.warm_data, seed + 1_000_003)):
            if not os.path.exists(os.path.join(d, "_done")):
                datagen.generate(d, s)
                open(os.path.join(d, "_done"), "w").close()
        install_duck_cache(mods["oracle"], os.path.basename(self.data))
        # every reference up front, outside every timed metric
        for q in QUERIES:
            if q not in self.oracles:
                raise KeyError(f"query {q} has no oracle")
            mods["oracle"].duck_run(self.oracles[q], self.data)
        self.modules = query_modules(entry)

    def warmup(self, spark) -> None:
        """A SQL, a pandas-UDF and a mapInPandas query on tables of another
        seed (a full pass would not fit a run)."""
        for q in WARMUP_QUERIES:
            self.fns[q](spark, self.warm_data).collect()
        self.mods["entry"].reset_memos()

    def setup(self, spark):
        return 0.0

    def run_pass(self, spark) -> dict:
        self.mods["entry"].reset_memos()
        first = len(self.tracer.spans)
        results, times, failed, items = {}, [], [], 0
        with self.tracer.span("bench.pass"):
            for q in QUERIES:
                with self.tracer.span("query", query=q) as span:
                    try:
                        df = self.fns[q](spark, self.data)
                        results[q] = (df.columns, [tuple(r) for r in df.collect()])
                    except Exception as e:  # noqa: BLE001 -- a failed op, reported
                        log(f"query {q} raised {type(e).__name__}: {e}")
                        results[q] = None
                times.append(span.duration)
                if results[q] is not None:
                    items += len(results[q][1])
        with self.tracer.span("bench.check"):
            for q in QUERIES:
                mismatches = self.check(q, results)
                if mismatches:
                    log(f"query {q} differs from its reference: {mismatches[:2]}")
                    failed.append(q)
        return {
            "pass_s": sum(times),
            "op_times": times,
            "items": items,
            "attempted": len(QUERIES),
            "failed": failed,
            "pass_span": first,
        }

    def check(self, q, results) -> list[str]:
        if results[q] is None:
            return ["raised"]
        cols, rows = results[q]
        return check.query_mismatches(
            self.mods["oracle"], q, cols, rows, self.oracles[q], self.data
        )


WORKLOADS = {"crawl_bfs": CrawlWorkload, "queries": QueryWorkload}


# ---------------------------------------------------------------------------
# one session: set-up + measured passes
# ---------------------------------------------------------------------------


def start_python_workers(spark) -> None:
    """One trivial mapInPandas job per task slot: starts the Python workers
    of a new SparkContext in a JVM that is already warm."""

    def identity(batches):
        yield from batches

    spark.range(CORES * 4, numPartitions=CORES).mapInPandas(identity, "id long").collect()


def run_session(wl, work: str, seconds: float, event_log: str | None, max_passes: int | None, warm_jvm: bool = False):
    """Start a session, warm up, set up, and measure passes until
    ``seconds`` would be exceeded (at least one pass).  In a JVM that an
    earlier session already warmed, only the Python workers are started."""
    tracer = wl.tracer
    t0 = time.monotonic()
    with tracer.span("bench.session"):
        spark = start_session(work, wl.aqe, event_log)
    session_s = time.monotonic() - t0
    try:
        t = time.monotonic()
        with tracer.span("bench.warmup"):
            if warm_jvm:
                start_python_workers(spark)
            else:
                wl.warmup(spark)
        warmup_s = time.monotonic() - t
        log(f"session {session_s:.1f}s, warm-up {warmup_s:.1f}s")
        passes, setup_times = [], []
        start = time.monotonic()
        while True:
            with tracer.span("bench.setup"):
                setup_times.append(wl.setup(spark))
            passes.append(wl.run_pass(spark))
            elapsed = time.monotonic() - start
            log(
                f"set-up {setup_times[-1]:.1f}s, pass {passes[-1]['pass_s']:.1f}s, "
                f"{len(passes[-1]['failed'])}/{passes[-1]['attempted']} ops failed"
            )
            if max_passes is not None and len(passes) >= max_passes:
                break
            if elapsed + elapsed / len(passes) > seconds:
                break
        info = host_info(spark)
    finally:
        spark.stop()
    return {
        "setup_s": session_s + warmup_s + median(setup_times),
        "passes": passes,
        "host": info,
    }


def end_to_end(res, peak_mem_mb: float) -> dict:
    passes = res["passes"]
    ops = [t for p in passes for t in p["op_times"]]
    return {
        "setup_s": res["setup_s"],
        "pass_s": median([p["pass_s"] for p in passes]),
        "op_s.p50": median(ops),
        "items_per_s": median([p["items"] / p["pass_s"] for p in passes]),
        "peak_mem_mb": peak_mem_mb,
    }


def record_pass_s(workload: str, seed: int, pass_s: float) -> None:
    os.makedirs(CACHE, exist_ok=True)
    with open(os.path.join(CACHE, f"untraced_{workload}.jsonl"), "a") as fh:
        fh.write(json.dumps({"seed": seed, "pass_s": pass_s}) + "\n")


def recorded_pass_s(workload: str) -> float | None:
    """Median pass time of the untraced runs recorded in this checkout."""
    path = os.path.join(CACHE, f"untraced_{workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        times = [json.loads(line)["pass_s"] for line in fh if line.strip()]
    return median(times) if times else None


def per_layer(wl, tracer, log_dir: str, untraced_pass_s: float, traced) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced session's first measured pass, plus
    the trace's own consistency problems."""
    attr = T.Attribution(T.read_event_log(log_dir), tracer, T.udf_modules(wl.mods["package_dir"]))
    problems = []
    if attr.unattributed:
        problems.append(f"{len(attr.unattributed)} Spark jobs outside every span")
    p = traced["passes"][0]
    pass_idx = next(
        i for i in range(p["pass_span"], len(tracer.spans)) if tracer.spans[i].name == "bench.pass"
    )
    in_pass = set([pass_idx] + tracer.within(pass_idx))
    jobs = attr.jobs_in(in_pass)
    stages = attr.stages_of(jobs)
    m = {k: 0.0 for k in PER_LAYER}

    def spans_named(name, scope=in_pass):
        return [i for i in scope if tracer.spans[i].name == name]

    batches = spans_named("pipeline.run_batch")
    if batches and "stats" in p:
        batch_scope = set(batches)
        for b in batches:
            batch_scope |= set(tracer.within(b))
        batch_jobs = attr.jobs_in(batch_scope)
        m["pipeline.jobs_per_batch"] = len(batch_jobs) / len(batches)
        m["pipeline.self_s"] = sum(tracer.self_time(b) for b in batches)
        claim = attr.node_stages(re.compile(r"^Window .*AS host_rank")) & attr.stages_of(batch_jobs)
        m["pipeline.claim_task_s"] = attr.task_s(claim)
        stats = p["stats"]
        claimed = sum(s.claimed for s in stats)
        m["pipeline.fetch_ratio"] = sum(s.fetched for s in stats) / claimed if claimed else 0.0
        links = attr.node_metric(stages, re.compile(r"Generate explode\(_extract_urls"), "number of output rows")
        m["extract.links_out"] = links
        m["pipeline.publish_ratio"] = sum(s.published for s in stats) / links if links else 0.0
        commits = spans_named("catalog.commit")
        commit_scope = set(commits)
        for c in commits:
            commit_scope |= set(tracer.within(c))
        m["catalog.commit_s"] = sum(tracer.spans[c].duration for c in commits)
        m["catalog.commit_jobs"] = len(attr.jobs_in(commit_scope))
        m["catalog.read_s"] = sum(tracer.spans[i].duration for i in spans_named("catalog.read"))
        m["catalog.write_mb"] = wl.commit_bytes / T.MB
        m["catalog.files_written"] = wl.commit_files
        m["catalog.live_mb"] = p["live_mb"]
        m["extract.py_s"] = attr.py_metric(stages, "extract", "time to run Python workers") / 1000
        m["urlnorm.py_s"] = attr.py_metric(stages, "urlnorm", "time to run Python workers") / 1000
        m["urlnorm.rows"] = attr.py_metric(stages, "urlnorm", "number of output rows")
        m["seen.bloom_py_s"] = attr.py_metric(stages, "seen", "time to run Python workers") / 1000
        m["seen.bloom_jobs"] = len(attr.jobs_running(jobs, attr.module_stages("seen")))
        maybe = attr.node_metric(stages, re.compile(r"^Filter (?!.*NOT maybe_seen).*maybe_seen"), "number of output rows")
        certainly_new = attr.node_metric(stages, re.compile(r"^Filter .*NOT maybe_seen"), "number of output rows")
        probed = maybe + certainly_new
        m["seen.bloom_maybe_ratio"] = maybe / probed if probed else 0.0
        span_sum = sum(tracer.spans[b].duration for b in batches)
        if abs(span_sum - p["pass_s"]) > 0.05 * p["pass_s"]:
            problems.append(f"batch spans sum {span_sum:.2f}s vs drain_s {p['pass_s']:.2f}s")
    queries = spans_named("query")
    for layer in ("dedup", "similarity"):
        mine = [i for i in queries if layer in wl.modules.get(tracer.spans[i].attrs["query"], ())]
        scope = set(mine)
        for i in mine:
            scope |= set(tracer.within(i))
        qjobs = attr.jobs_in(scope)
        m[f"{layer}.s"] = sum(tracer.spans[i].duration for i in mine)
        m[f"{layer}.jobs"] = len(qjobs)
        if layer == "dedup":
            m["dedup.shuffle_mb"] = attr.shuffle_mb(attr.stages_of(qjobs))
        else:
            m["similarity.py_s"] = (
                attr.py_metric(attr.stages_of(qjobs), None, "time to run Python workers") / 1000
            )
    m["sql.s"] = sum(
        tracer.spans[i].duration for i in queries if not wl.modules.get(tracer.spans[i].attrs["query"])
    )
    m["spark.jobs"] = len(jobs)
    m["spark.task_s"] = attr.task_s(stages)
    m["spark.shuffle_mb"] = attr.shuffle_mb(stages)
    m["spark.spill_mb"] = attr.spill_mb(stages)
    m["spark.py_start_s"] = attr.py_metric(stages, None, "time to start Python workers") / 1000
    m["trace.overhead"] = p["pass_s"] / untraced_pass_s if untraced_pass_s else 0.0
    return m, problems


def live_catalog_mb(mods, cat) -> float:
    """Bytes of the files the latest manifest references."""
    manifest = cat.latest()
    segs = [s for v in manifest.get("tables", {}).values() for s in (v or [])]
    for parts in (manifest.get("parts") or {}).values():
        for v in (parts or {}).values():
            segs += mods["catalog"]._chain(v)
    total = 0
    for s in set(segs):
        path = os.path.join(cat.root, s)
        if os.path.isdir(path):
            total += sum(T.dir_stats(path).values())
        elif os.path.exists(path):
            total += os.path.getsize(path)
    return total / T.MB


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    mods = import_program()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    mem = None
    try:
        tracer = T.Tracer()
        with tracer.span("bench.inputs"):
            wl = WORKLOADS[args.workload](mods, args.seed, work, tracer)
        if args.trace:
            # the traced run repeats an untraced run's procedure with the
            # event log on; its overhead is read against the untraced
            # passes recorded in this checkout
            log_dir = os.path.join(work, "eventlog")
            wl.measure_commits = True
            traced = run_session(wl, work, args.seconds, log_dir, 1)
            passes = list(traced["passes"])
            baseline = recorded_pass_s(args.workload)
            if baseline is None:
                # none recorded: an untraced pass in the now-warm JVM, which
                # if anything overstates the overhead
                wl.measure_commits = False
                plain = run_session(wl, work, args.seconds, None, 1, warm_jvm=True)
                passes += plain["passes"]
                baseline = plain["passes"][0]["pass_s"]
            metrics, problems = per_layer(wl, tracer, log_dir, baseline, traced)
            units, host = PER_LAYER, traced["host"]
        else:
            mem = T.MemorySampler().start()
            plain = run_session(wl, work, args.seconds, None, None)
            peak = mem.stop()
            mem = None
            passes = plain["passes"]
            metrics, problems = end_to_end(plain, peak), []
            record_pass_s(args.workload, args.seed, metrics["pass_s"])
            units, host = END_TO_END, plain["host"]
        print("perfbench host: " + json.dumps(host, sort_keys=True))
    finally:
        if mem is not None:
            mem.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(len(p["failed"]) for p in passes)
    for problem in problems:
        log(f"trace check failed: {problem}")
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
