"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload convert_region --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, starts one Spark driver at ``local[N]`` (N = min(4, cores)),
runs a cold first op and then warm ops for ``--seconds``, checks every
op's output, and prints one JSON object as the last line of stdout.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). Exits non-zero without a result if the
program cannot be imported or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T0 = time.time()  # process start, as near as Python sees it
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: gen+stage repeats whose median enters setup_s
SETUP_REPEATS = 3
DRIVER_MEMORY = "4g"


def _sizes():
    import gen

    city = gen.ConvertSize(grid_x=125, grid_y=100, n_ways=1500, n_images=6000,
                           refs_hi=60, heavy_tail=False)
    region = gen.ConvertSize(grid_x=110, grid_y=100, n_ways=1500, n_images=5000,
                             refs_hi=gen.OSM_MAX_REFS, heavy_tail=True, mega_rings=2)
    return city, region


#: query side tables: (rows, payload images, minhash docs, knn points, top-k corpus)
QUERY_SIZE = dict(n_rows=40_000, n_payloads=400, n_docs=2500, n_knn=10_000, n_topk=10_000)
#: the small side table convert_region's traced run queries, so that its
#: trace reports the query layers too
SIDE_QUERY_SIZE = dict(n_rows=10_000, n_payloads=100, n_docs=1000, n_knn=2000, n_topk=3000)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks (user nice system idle iowait irq
    softirq steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def busy_cpu_s() -> float:
    """CPU-seconds the machine has spent busy (user, nice, system, irq,
    softirq). Time the host steals from the vCPUs is not in it, so ops
    timed by it do not stretch when the host is contended."""
    t = cpu_ticks()
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / os.sysconf("SC_CLK_TCK")


class Timed:
    """Wall and busy-CPU seconds of one op."""

    def __init__(self):
        self.wall = self.cpu = 0.0

    def __enter__(self):
        self._t, self._c = time.time(), busy_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall += time.time() - self._t
        self.cpu += busy_cpu_s() - self._c


class Run:
    """State of one benchmark process: work dir, session, op tallies."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.con = None
        self.t_start = T0

    # --- session -----------------------------------------------------------
    def start_session(self) -> float:
        from osm2shp_spark.session import get_spark

        cores = min(4, len(os.sched_getaffinity(0)))
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            extra_confs={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file: HotSpot writes it to /tmp whatever
                # java.io.tmpdir says
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        import reference as R

        self.con = R.connect(self.path("duckdb"))
        return time.time() - self.t_start

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    # --- ops ---------------------------------------------------------------
    def attempt(self, fn, *a):
        """Run one op; an exception counts as a failed op. Returns
        (Timed, result or None)."""
        self.attempted += 1
        with Timed() as t:
            try:
                out = fn(*a)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                out = None
        return t, out

    def fail(self, errors: list[str]) -> bool:
        if errors:
            self.failed += 1
            print("check failed: " + "; ".join(errors), file=sys.stderr)
        return not errors

    def median_setup(self, build) -> float:
        """Median wall time of ``SETUP_REPEATS`` identical gen+stage runs."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.time()
            build()
            times.append(time.time() - t0)
        log(f"set-up repeats {[round(t, 2) for t in times]}")
        return statistics.median(times)

    def jobs_started(self) -> int:
        """Spark jobs this process has started so far."""
        core = self.spark.sparkContext._jsc.sc()
        core.listenerBus().waitUntilEmpty()
        return core.statusStore().jobsList(None).size()

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)


# ---------------------------------------------------------------------------
# staging
# ---------------------------------------------------------------------------

def stage_convert(run: Run, size, seed: int, name: str) -> tuple[str, int, int]:
    """Generate and write one convert input; (dir, rows, parquet bytes)."""
    import gen
    from ops import load_convert_inputs

    in_dir = run.path(name)
    tables = gen.convert_tables(seed, size)
    sizes = gen.write_tables(tables, in_dir)
    nodes, ways, images = load_convert_inputs(run.spark, in_dir)
    nodes.schema, ways.schema, images.schema  # resolve the reads
    return in_dir, sum(t.num_rows for t in tables.values()), sum(sizes.values())


def stage_queries(run: Run, seed: int, size: dict, convert_out: str, name: str):
    import gen
    import ops

    q_dir = run.path(name)
    gen.write_tables(
        gen.query_tables(seed, size["n_rows"], size["n_payloads"], size["n_docs"]), q_dir
    )
    t = ops.QueryTables(
        convert_out=convert_out,
        qimages=os.path.join(q_dir, "qimages.parquet"),
        payloads=os.path.join(q_dir, "payloads.parquet"),
        n_knn=size["n_knn"], n_docs=size["n_docs"], n_topk=size["n_topk"],
    )
    run.spark.read.parquet(t.qimages).schema
    return t


# ---------------------------------------------------------------------------
# convert ops
# ---------------------------------------------------------------------------

class ConvertLoop:
    """Convert ops on one staged input, each into a fresh output dir.
    The first op is checked against the DuckDB reference, every later
    one by content hash against the first."""

    def __init__(self, run: Run, in_dir: str, lineage: bool = True):
        self.run = run
        self.in_dir = in_dir
        self.lineage = lineage
        self.n = 0
        self.jobs: list[int] = []  # per op, counted in traced runs only
        self.ref = None
        self.expected = None

    def op(self, out: str | None = None) -> tuple[Timed, str | None]:
        """One checked op; its output is kept only when ``out`` is
        given. Returns (its times, out if the op passed its check)."""
        import ops

        keep = out is not None
        if out is None:
            out = self.run.path(f"out-{self.n}")
            self.n += 1
        # no op may reuse data an earlier op persisted
        self.run.spark.catalog.clearCache()
        j0 = self.run.jobs_started() if self.run.args.trace else 0
        t, res = self.run.attempt(ops.convert, self.run.spark, self.in_dir, out, self.lineage)
        if self.run.args.trace:
            self.jobs.append(self.run.jobs_started() - j0)
        ok = res is not None and self.check(out)
        log(f"convert op {t.wall:.2f} s, {t.cpu:.1f} cpu-s, check passed: {ok}")
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        return t, out if ok else None

    def check(self, out: str) -> bool:
        import reference as R

        if self.ref is None:
            self.ref = R.ConvertReference(self.run.con, self.in_dir)
        if self.expected is None:
            ok = self.run.fail(self.ref.check(out))
            if ok:
                self.expected = R.convert_output_hash(self.run.con, out)
            return ok
        got = R.convert_output_hash(self.run.con, out)
        return self.run.fail([] if got == self.expected else ["output hash differs from the first op"])


def run_convert(run: Run, size, seed: int) -> dict:
    import reference as R

    session_s = run.start_session()
    staged = {}

    def build():
        staged["v"] = stage_convert(run, size, seed, "in")

    setup_s = session_s + run.median_setup(build)
    in_dir, in_rows, in_bytes = staged["v"]
    loop = ConvertLoop(run, in_dir)
    first, first_out = loop.op(run.path("out-first"))
    out_bytes = R.dir_bytes(first_out)[0] if first_out else 0
    warm = []
    t_end = time.time() + run.args.seconds
    while True:
        warm.append(loop.op()[0])
        if time.time() >= t_end:
            break
    ctx = dict(in_dir=in_dir, first_out=first_out, loop=loop, warm=warm, first=first,
               rows=in_rows)
    if run.args.trace:
        return trace_convert(run, ctx)
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_cpu_s": (in_rows / statistics.median(t.cpu for t in warm), "rows/cpu-s"),
        "out_bytes_per_in_byte": (out_bytes / in_bytes, "ratio"),
    }


def trace_convert(run: Run, ctx: dict, query_tables=None) -> dict:
    """Per-layer metrics of a convert workload: a traced op, the layer
    replay, a query pass, the kernels."""
    import ops
    import replay
    from spans import Tracer, jvm_peak_rss_mb

    tr = Tracer(run.spark)
    loop = ctx["loop"]
    out = run.path("out-traced")
    with tr.span("engine.run") as sp:
        _, res = run.attempt(ops.convert, run.spark, ctx["in_dir"], out)
    if res is not None:
        loop.check(out)
    c = tr.counters(sp)
    m = {f"engine.run.{k}": v for k, v in c.items() if k != "driver_s"}
    m["engine.run.driver_gap_s"] = c["driver_s"]
    # job counts differ between identical warm ops, so report the range
    warm_jobs = loop.jobs[1:] + [c["jobs"]]
    m["engine.run.jobs_spread"] = max(warm_jobs) - min(warm_jobs)
    m["trace.overhead_s"] = sp.s - statistics.median(t.wall for t in ctx["warm"])
    shutil.rmtree(out, ignore_errors=True)

    log(f"traced op {sp.s:.2f} s")
    layers, choices = replay.replay_convert(
        run.spark, tr, ctx["in_dir"], out, run.path("scratch"), loop.ref
    )
    loop.check(out)
    log(f"replay {time.time() - sp.t1:.2f} s")
    m.update(layers)
    m["engine.run.unattributed_s"] = sp.s - sum(v for k, v in layers.items() if k.endswith(".s"))

    if query_tables is None:
        query_tables = stage_queries(run, run.args.seed, SIDE_QUERY_SIZE, ctx["first_out"], "side")
    qm, qchoices, results = replay.trace_queries(run.spark, tr, query_tables)
    for q in ops.QUERIES:
        run.attempted += 1
        run.fail(ops.check_query(run.con, q, query_tables, results[q.name]))
    m.update(qm)
    choices.update(qchoices)
    log(f"traced queries {sum(v for k, v in qm.items() if k.endswith('.s')):.2f} s")
    m.update(replay.kernels(ctx["in_dir"], ctx["first_out"], query_tables.payloads))
    m["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
    # wall-clock figures: they stretch with host CPU steal, so they are
    # reported here, unbounded
    m["session.first_op_s"] = ctx["first"].wall
    m["session.rows_per_s"] = ctx["rows"] / statistics.median(t.wall for t in ctx["warm"])
    print(json.dumps({"workload": run.args.workload, "selectors": choices}))
    return {k: (v, _unit(k)) for k, v in m.items()}


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

class QueryLoop:
    """Closed loop of one client over the fixed query sequence. The
    first result of each query is checked against its DuckDB
    reference, later ones by hash against the first."""

    def __init__(self, run: Run, tables):
        self.run = run
        self.tables = tables
        self.expected = {}

    def cycle(self) -> Timed:
        """One pass over the sequence; its times exclude the checks."""
        import ops

        total = Timed()
        for q in ops.QUERIES:
            self.run.spark.catalog.clearCache()
            t, res = self.run.attempt(ops.run_query, self.run.spark, q, self.tables)
            total.wall += t.wall
            total.cpu += t.cpu
            log(f"{q.name} {t.wall:.2f} s")
            if res is None:
                continue
            got = res[0]
            if q.name not in self.expected:
                if self.run.fail(ops.check_query(self.run.con, q, self.tables, got)):
                    self.expected[q.name] = ops.arrow_hash(self.run.con, got)
            elif ops.arrow_hash(self.run.con, got) != self.expected[q.name]:
                self.run.fail([f"{q.name}: result hash differs from the first run"])
        return total


def run_query_mix(run: Run, city, seed: int) -> dict:
    import ops
    import reference as R

    session_s = run.start_session()
    staged = {}

    def build():
        staged["convert"] = stage_convert(run, city, seed, "in")
        staged["tables"] = stage_queries(run, seed, QUERY_SIZE, run.path("convert"), "q")

    setup_s = session_s + run.median_setup(build)
    in_dir, _, in_bytes = staged["convert"]
    tables = staged["tables"]
    # the one convert whose points and ways the queries read; the
    # queries need no lineage manifest
    convert = ConvertLoop(run, in_dir, lineage=False)
    convert_t, ok = convert.op(tables.convert_out)
    if ok is None:
        raise RuntimeError("the set-up convert failed; no tables to query")
    setup_s += convert_t.wall
    out_bytes = R.dir_bytes(tables.convert_out)[0]

    loop = QueryLoop(run, tables)
    first = loop.cycle()
    warm = []
    t_end = time.time() + run.args.seconds
    while True:
        warm.append(loop.cycle())
        if time.time() >= t_end:
            break
    rows = sum(ops.query_input_rows(run.con, tables).values())
    if run.args.trace:
        ctx = dict(in_dir=in_dir, first_out=tables.convert_out, loop=convert, warm=warm,
                   first=first, rows=rows)
        # overhead is measured on the traced query pass (trace_convert
        # measures it on its op first)
        m = trace_convert(run, ctx, query_tables=tables)
        traced_cycle = sum(v[0] for k, v in m.items() if k.startswith("query.") and k.endswith(".s"))
        m["trace.overhead_s"] = (traced_cycle - statistics.median(t.wall for t in warm), "s")
        return m
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_cpu_s": (rows / statistics.median(t.cpu for t in warm), "rows/cpu-s"),
        "out_bytes_per_in_byte": (out_bytes / in_bytes, "ratio"),
    }


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last == "rows_per_s":
        return "rows/s"
    if last.endswith("_s") or last == "s":
        return "s"
    if last.endswith("bytes"):
        return "bytes"
    if last.endswith("_ratio"):
        return "ratio"
    if last.startswith("ns_per"):
        return "ns"
    if last.endswith("_mb"):
        return "MB"
    return "count"


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run still works there
        pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=["convert_region", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file of this process and its children
    # (JVM, Python workers) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [HERE, ROOT]
    try:
        import osm2shp_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        _remove(work)
        return 2

    run = Run(args, work)
    ticks0 = cpu_ticks()
    try:
        city, region = _sizes()
        if args.workload == "convert_region":
            metrics = run_convert(run, region, args.seed)
        else:
            metrics = run_query_mix(run, city, args.seed)
    finally:
        run.stop()
        if run.con is not None:
            run.con.close()
        _remove(work)
        d = [b - a for a, b in zip(ticks0, cpu_ticks())]
        log(f"run {time.time() - run.t_start:.1f} s, cpu busy {sum(d[:3]) / max(sum(d), 1):.0%}, "
            f"steal {d[7] / max(sum(d), 1):.1%}")
    if not args.trace:
        metrics["success_ratio"] = ((run.attempted - run.failed) / run.attempted, "ratio")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
