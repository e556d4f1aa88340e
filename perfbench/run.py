"""petropandas_spark benchmark: three seeded workloads, end-to-end metrics
with tracing off, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 22
    python3 perfbench/run.py --workload all --seed 1 --seconds 22

Run from the root of a checkout: the program is imported from
``./petropandas_spark`` and nowhere else.  Load is one process on
``local[nproc]`` with one closed-loop client (the next op starts only
when the previous one returned).  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds host facts, session confs, sample counts and input digests.
Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import spans as tracing  # noqa: E402

#: a traced run fails if more than this share of op time falls outside
#: every layer span (the spans then no longer cover the program's work)
UNATTRIBUTED_CEILING = 0.1

#: spans whose self time is attributed to each share.* metric
SHARE_GROUPS = {"frame.": "frame", "sqlgen.": "sqlgen",
                "catalyst.": "catalyst", "exec:": "exec", "prefix:": "exec",
                "dedup.": "pipeline", "similarity.": "pipeline"}

EXEC_LAYERS = ("minerals.apfu", "minerals.site_allocation",
               "minerals.end_members", "minerals_ext.end_members",
               "hpxeos.phase_end_members", "cipw.norm")
PIPELINE_SPANS = {"dedup.lsh_candidates": "dedup.lsh_candidates.exec_s",
                  "dedup.jaccard_verify": "dedup.jaccard_verify.exec_s",
                  "dedup.connected_components":
                      "dedup.connected_components.exec_s",
                  "dedup.span_removal": "dedup.span_removal.exec_s",
                  "similarity.multiprobe": "similarity.multiprobe.exec_s",
                  "dedup.store_write": "dedup.store_write.exec_s",
                  "dedup.incremental": "dedup.incremental.exec_s"}
FRAME_CALLS = ("ingest", "select_rows", "mineral_apfu", "site_allocations",
               "end_members", "phase_end_members", "check_stoichiometry",
               "cipw_norm")
COUNTS = ("sqlgen.stages", "sqlgen.expr_chars", "sqlgen.codegen_barriers",
          "dedup.candidate_pairs", "dedup.verified_pairs",
          "dedup.components", "similarity.candidate_pairs",
          "dedup.incremental_candidates")
SPARK_COUNTERS = ("jobs", "shuffle_bytes", "executor_cpu_s", "tasks",
                  "jvm_gc_s", "spill_bytes", "python_exec_s",
                  "scheduler_wait_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run emits, with its unit."""
    u = {f"frame.{c}.ms": "ms" for c in FRAME_CALLS}
    u.update({"sqlgen.plan_build.ms": "ms", "sqlgen.apply.ms": "ms",
              "catalyst.optimize.ms": "ms"})
    u.update({f"{layer}.exec_s": "s" for layer in EXEC_LAYERS})
    u.update({m: "s" for m in PIPELINE_SPANS.values()})
    u.update({c: "count" for c in COUNTS})
    u.update({"catalyst.wscg_spans": "count", "catalyst.exchanges": "count"})
    u.update({"sqlgen.expr_chars": "chars", "sqlgen.codegen_barriers": "count",
              "dedup.verify_yield": "ratio",
              "similarity.verify_yield": "ratio"})
    u.update({"session.start_s": "s", "session.first_python_stage_s": "s",
              "session.python_workers": "count"})
    u.update({"spark.jobs": "count", "spark.shuffle_bytes": "bytes",
              "spark.executor_cpu_s": "s", "spark.tasks": "count",
              "spark.jvm_gc_s": "s", "spark.spill_bytes": "bytes",
              "spark.python_exec_s": "s", "spark.scheduler_wait_s": "s"})
    u.update({f"share.{g}": "ratio" for g in
              ("frame", "sqlgen", "catalyst", "exec", "pipeline",
               "unattributed")})
    u.update({"trace.overhead_ms": "ms", "trace.attribution_ms": "ms"})
    return u


E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_ms": "ms",
             "op_p90_ms": "ms", "incremental_p50_ms": "ms",
             "peak_rss_mb": "MB"}


# ---------------------------------------------------------------------------
# host, session, processes
# ---------------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap sized to the host: a sixth of physical memory, between
    1 and 4 GiB (the inputs need a few hundred MB; the rest of memory is
    left to the Python workers and to other tenants)."""
    with open("/proc/meminfo") as fh:
        line = next(ln for ln in fh if ln.startswith("MemTotal"))
    total_kb = int(line.split()[1])
    return max(1024, min(4096, total_kb // 1024 // 6))


def session_confs(work: str, cpus: int, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "32m",
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.driver.extraJavaOptions":
            f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # relative to the checkout root, the JVM's working directory: a
        # Unix socket path may hold at most 107 bytes, which the Python
        # worker sockets exceed under a deep checkout
        "spark.python.unix.domain.socket.dir":
            os.path.relpath(os.path.join(work, "sock")),
    }
    if trace:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": os.path.join(work, "eventlog")})
    return confs


def start_session(confs: dict[str, str], cpus: int):
    """Session start (the library's worker-pool confs applied) through
    the first Python (Arrow) stage.  Returns (spark, start_s, python_s)."""
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    from petropandas_spark.session import apply_worker_pool_confs

    b = SparkSession.builder
    for k, v in confs.items():
        b = b.config(k, v)
    spark = apply_worker_pool_confs(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(cpus, numPartitions=cpus).mapInPandas(
        lambda batches: batches, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it and for every other
    process this run started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        left = [p for p in tracing.process_tree() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


class Sampler:
    """Background /proc sampler: peak resident memory of the whole
    process tree and the peak count of forked Python workers."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak_mb, self.workers = period, 0.0, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self):
        self.peak_mb = max(self.peak_mb, tracing.tree_rss_mb())
        self.workers = max(self.workers, tracing.python_workers())

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False


# ---------------------------------------------------------------------------
# sqlgen probes (traced runs only)
# ---------------------------------------------------------------------------


def install_probes(tr) -> list:
    """Wrap the program's plan emitters, ``Plan.apply`` and
    ``codegen_barrier`` so traced ops record ``sqlgen.*`` spans and
    counts.  Returns the undo list for :func:`remove_probes`."""
    # minerals_ext registers its builders in END_MEMBER_BUILDERS on import
    from petropandas_spark import hpxeos, minerals, minerals_ext  # noqa: F401
    from petropandas_spark import frame, sqlgen

    undo = []

    def wrap(owner, attr, span):
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        def probe(*a, **k):
            with tr.span(span):
                return orig(*a, **k)

        if isinstance(owner, dict):
            owner[attr] = probe
            undo.append(lambda: owner.__setitem__(attr, orig))
        else:
            setattr(owner, attr, probe)
            undo.append(lambda: setattr(owner, attr, orig))

    for name in ("add_apfu", "add_site_allocations_flat",
                 "add_check_stoichiometry"):
        wrap(minerals, name, "sqlgen.plan_build")
    for name in list(minerals.END_MEMBER_BUILDERS):
        wrap(minerals.END_MEMBER_BUILDERS, name, "sqlgen.plan_build")
    wrap(hpxeos, "add_phase_end_members", "sqlgen.plan_build")
    wrap(frame, "clean_plan", "sqlgen.plan_build")

    orig_apply = sqlgen.Plan.apply

    def apply(plan, df):
        tr.count("sqlgen.stages", len(plan.stages))
        tr.count("sqlgen.expr_chars", sum(
            len(e) for st in plan.stages for _, e in st.render(sqlgen.SPARK)))
        with tr.span("sqlgen.apply"):
            return orig_apply(plan, df)

    sqlgen.Plan.apply = apply
    undo.append(lambda: setattr(sqlgen.Plan, "apply", orig_apply))

    orig_barrier = sqlgen.codegen_barrier

    def barrier(df):
        tr.count("sqlgen.codegen_barriers", 1)
        return orig_barrier(df)

    sqlgen.codegen_barrier = barrier
    undo.append(lambda: setattr(sqlgen, "codegen_barrier", orig_barrier))
    return undo


def remove_probes(undo: list) -> None:
    for fn in reversed(undo):
        fn()


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, wl):
        self.wl = wl
        self.op_ms: list[float] = []
        self.follow_ms: list[float] = []
        #: (loop index, rows) of every timed op, parallel to op_ms
        self.op_rows: list[tuple[int, int]] = []
        self.attempted = self.failed = 0
        self.failures: dict[str, int] = {}
        self.unexpected = False
        self.last = None
        self.untraced_ms: list[float] = []
        self.tracer = None
        self.steal_s = 0.0

    def record_failures(self, names: list[str], ops: int = 1) -> None:
        for n in names:
            self.failures[n] = self.failures.get(n, 0) + ops
        if names:
            if not checks.is_known(self.wl.name, names):
                self.unexpected = True

    def cycle(self, tr, i: int, attribute: bool, timed: bool = True):
        """One closed-loop op plus its follow-up.  Returns the op result
        or None when it raised."""
        if timed:
            self.attempted += 1
        try:
            self.wl.stage(i)
            with tr.span("op"):
                t0 = time.perf_counter()
                res = self.wl.op(tr, i, attribute)
                dt = time.perf_counter() - t0
            extra, df = None, None
            every = (self.wl.follow_every if timed
                     else self.wl.warm_follow_every)
            if i % every == 0:
                with tr.span("follow_up"):
                    t1 = time.perf_counter()
                    extra = self.wl.follow_up(tr, i)
                    df = time.perf_counter() - t1
        except Exception:  # one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            if timed:
                self.failed += 1
            self.record_failures(["exception"])
            return None
        if isinstance(extra, dict):
            res.update(extra)
        if timed:
            self.op_ms.append(dt * 1e3)
            if df is not None:
                self.follow_ms.append(df * 1e3)
            self.op_rows.append((i, res["rows"]))
        bad = self.wl.check(res)
        self.record_failures(bad)
        if bad and timed:
            self.failed += 1
        self.last = res
        return res

    def loop(self, seconds: float, traced=None) -> None:
        """Closed loop for *seconds*: the next op starts only if the median
        cycle so far still fits in the window.  With a *traced* Tracer,
        every op runs twice in a row, untraced and then traced (probes
        installed, layer attribution on), so the pair measures the
        tracing overhead under the same warm-up state."""
        tr_off = tracing.Tracer(enabled=False)
        min_ops = 1 if traced is None else self.wl.trace_min_ops
        t_start = time.perf_counter()
        cycles: list[float] = []
        i = 0
        while True:
            elapsed = time.perf_counter() - t_start
            left = seconds - elapsed
            if (len(cycles) >= min_ops and i % self.wl.ops_per_round == 0
                    and statistics.median(cycles) * self.wl.ops_per_round
                    > left):
                break
            c0 = time.perf_counter()
            n_before = len(self.op_ms)
            self.cycle(tr_off, i, False)
            if traced is not None:
                if len(self.op_ms) > n_before:
                    self.untraced_ms.append(self.op_ms[-1])
                undo = install_probes(traced)
                try:
                    traced.op_id = i
                    self.cycle(traced, i, True)
                finally:
                    remove_probes(undo)
            cycles.append(time.perf_counter() - c0)
            i += 1


def rows_per_s(run: Run) -> float:
    """Median over rounds of the mix of each round's rows per second of
    op time (every round has the same composition), so a short slow
    spell of the host moves one round, not the figure."""
    rounds: dict[int, list[float]] = {}
    for ms, (i, rows) in zip(run.op_ms, run.op_rows):
        r = rounds.setdefault(i // run.wl.ops_per_round, [0.0, 0.0])
        r[0] += rows
        r[1] += ms / 1e3
    return statistics.median(rows / s for rows, s in rounds.values())


def p90(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def layer_metrics(tr, run_untraced: list[float], n_ops: int,
                  start: tuple[float, float], workers: int,
                  events: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced ops' spans, counts and engine
    counters, normalised per traced op."""
    spans = tr.spans
    selfs = tracing.self_times(spans)
    n = max(n_ops, 1)
    m = {k: 0.0 for k in per_layer_units()}

    def root(i):
        while spans[i].parent is not None:
            i = spans[i].parent
        return i

    op_time = sum(s.end - s.start for s in spans if s.name == "op")
    share = {g: 0.0 for g in ("frame", "sqlgen", "catalyst", "exec",
                              "pipeline", "unattributed")}
    exec_t: dict[str, float] = {}
    for i, (s, st) in enumerate(zip(spans, selfs)):
        under_op = spans[root(i)].name == "op"
        if s.name.startswith("frame."):
            # a public call's whole driver time, its sqlgen spans and any
            # action it runs itself included (shares use self time)
            key = f"{s.name}.ms"
            if key in m:
                m[key] += (s.end - s.start) * 1e3 / n
        elif s.name in ("sqlgen.plan_build", "sqlgen.apply",
                        "catalyst.optimize"):
            m[f"{s.name}.ms"] += st * 1e3 / n
        elif s.name.startswith(("exec:", "prefix:")):
            sign = 1.0 if s.name.startswith("exec:") else -1.0
            layer = s.name.split(":", 1)[1]
            exec_t[layer] = exec_t.get(layer, 0.0) + sign * st
        elif s.name in PIPELINE_SPANS:
            m[PIPELINE_SPANS[s.name]] += (s.end - s.start) / n
        if under_op:
            if s.name == "op":
                share["unattributed"] += st
            else:
                for prefix, g in SHARE_GROUPS.items():
                    if s.name.startswith(prefix):
                        share[g] += st
                        break
    for layer in EXEC_LAYERS:
        m[f"{layer}.exec_s"] = exec_t.get(layer, 0.0) / n
    for g, v in share.items():
        m[f"share.{g}"] = v / op_time if op_time else 0.0
    for c in COUNTS:
        m[c] = tr.counts.get(c, 0.0) / n
    cand = tr.counts.get("dedup.candidate_pairs", 0.0)
    m["dedup.verify_yield"] = (tr.counts.get("dedup.verified_pairs", 0.0)
                               / cand if cand else 0.0)
    scand = tr.counts.get("similarity.candidate_pairs", 0.0)
    m["similarity.verify_yield"] = (
        tr.counts.get("similarity.verified_pairs", 0.0) / scand
        if scand else 0.0)
    m["session.start_s"], m["session.first_python_stage_s"] = start
    m["session.python_workers"] = float(workers)
    groups = {s.group for s in spans}
    tot = tracing.JobStats()
    for g, st in events.items():
        if g in groups:
            tot.add(st)
    for c in SPARK_COUNTERS:
        m[f"spark.{c}"] = getattr(tot, c) / n
    m["catalyst.wscg_spans"] = tot.wscg_spans / n
    m["catalyst.exchanges"] = tot.exchanges / n
    ops = [s for s in spans if s.name == "op"]
    attrib = [sum(st for s, st in zip(spans, selfs)
                  if s.name.startswith("prefix:") and s.op_id == o.op_id)
              for o in ops]
    traced = [(o.end - o.start) - a for o, a in zip(ops, attrib)]
    if traced and run_untraced:
        m["trace.overhead_ms"] = (statistics.median(traced) * 1e3
                                  - statistics.median(run_untraced))
    m["trace.attribution_ms"] = (statistics.median(attrib) * 1e3
                                 if attrib else 0.0)
    bad = checks.unattributed_failures(m["share.unattributed"],
                                       UNATTRIBUTED_CEILING)
    return m, bad


def run_workload(args) -> int:
    import workloads

    root = os.getcwd()
    pkg = os.path.join(root, "petropandas_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"perfbench: no petropandas_spark package under {root}; run "
              "from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    for d in (work, out_dir, os.path.join(work, "tmp"),
              os.path.join(work, "sock"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _run(args, root, work, out_dir, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # succeeds once empty
        except OSError:
            pass


def _session_and_loop(args, wl, run, confs, cpus, trace_on, tr_off,
                      sampler):
    """The cold session start (it launches the JVM), input load, warm-up,
    the measured loop and the once-per-run check.  Returns (setup_s,
    (start_s, first_python_stage_s), versions)."""
    spark, s_start, s_py = start_session(confs, cpus)
    t0 = time.perf_counter()
    wl.load(spark)
    warm = [run.cycle(tr_off, -1 - k, False, timed=False)
            for k in range(wl.warm_ops)]
    prep_s = time.perf_counter() - t0
    if any(w is None for w in warm):
        print("perfbench: warm-up op failed", file=sys.stderr)
    run.tracer = tracing.Tracer(sc=spark.sparkContext) if trace_on else None
    steal0 = tracing.host_steal_s()
    run.loop(args.seconds, run.tracer)
    run.steal_s = tracing.host_steal_s() - steal0
    if run.last is not None:
        # a failed once-per-run check fails every op of the run
        bad = wl.final_check(run.last)
        run.record_failures(bad, max(run.attempted, 1))
        if bad:
            run.failed = run.attempted
    sampler.sample()
    versions = {"java": spark.sparkContext._jvm.System.getProperty(
        "java.version"), "spark": spark.version}
    spark.stop()
    return s_start + s_py + prep_s, (s_start, s_py), versions


def _run(args, root, work, out_dir, workloads) -> int:
    import petropandas_spark

    if not os.path.abspath(petropandas_spark.__file__).startswith(root):
        print("perfbench: petropandas_spark imported from outside the "
              "checkout", file=sys.stderr)
        return 2
    import pyspark

    from petropandas_spark.session import WORKER_POOL_CONFS

    cpus = host_cpus()
    trace_on = bool(args.trace)
    wl = workloads.WORKLOADS[args.workload](args.seed, work, cpus)
    digest = wl.prepare()
    confs = session_confs(work, cpus, trace_on)
    tr_off = tracing.Tracer(enabled=False)
    run = Run(wl)
    with Sampler() as sampler:
        try:
            setup_s, start, versions = _session_and_loop(
                args, wl, run, confs, cpus, trace_on, tr_off, sampler)
        finally:
            stop_jvm()
    tr = run.tracer
    n = len(run.op_ms)
    metrics: dict[str, float] = {}
    if not trace_on:
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": rows_per_s(run) if n else 0.0,
            "op_p50_ms": statistics.median(run.op_ms) if n else 0.0,
            "op_p90_ms": p90(run.op_ms) if n else 0.0,
            "incremental_p50_ms": (statistics.median(run.follow_ms)
                                   if n else 0.0),
            "peak_rss_mb": sampler.peak_mb,
        }
        units = E2E_UNITS
    else:
        events = tracing.parse_event_log(os.path.join(work, "eventlog"))
        n_traced = sum(1 for s in tr.spans if s.name == "op")
        metrics, bad = layer_metrics(tr, run.untraced_ms, n_traced, start,
                                     sampler.workers, events)
        run.record_failures(bad)
        units = per_layer_units()
        tag = f"{wl.name}-seed{args.seed}"
        tr.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
    correct = run.attempted > 0 and not run.unexpected and n > 0
    info = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace_on), "samples": {"ops": n,
                                            "follow_ups": len(run.follow_ms)},
        "failed_ratio": run.failed / run.attempted if run.attempted else 1.0,
        "failures": run.failures,
        "known_seed_failures": checks.KNOWN_SEED_FAILURES.get(wl.name, []),
        "input_digest": digest,
        "host": {"nproc": cpus, "python": sys.version.split()[0],
                 "pyspark": pyspark.__version__, **versions},
        "session_confs": confs | WORKER_POOL_CONFS,
        "session_start_s": start,
        # host noise during the timed loop, for reading a run's figures
        "host_steal_s": run.steal_s,
        "op_ms": [round(v, 1) for v in run.op_ms],
        "follow_up_ms": [round(v, 1) for v in run.follow_ms],
    }
    result = {
        "correct": bool(correct), "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    with open(os.path.join(out_dir, f"result-{wl.name}-seed{args.seed}"
                           f"-trace{int(trace_on)}.json"), "w") as fh:
        json.dump({"info": info, "result": result}, fh, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints each end-to-end metric
    with its unit and sample count, then a summary line."""
    rows, ok = [], True
    for name in ("petro_batch", "petro_notebook", "corpus_dedup"):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write(p.stderr[-4000:])
            return p.returncode or 1
        info = json.loads(lines[-2])["info"]
        res = json.loads(lines[-1])
        ok &= res["correct"]
        for k, v in res["metrics"].items():
            rows.append((name, k, v["value"], v["unit"],
                         info["samples"]["ops"]))
        rows.append((name, "failed_ratio", info["failed_ratio"],
                     "failed/attempted", res["attempted"]))
    w = max(len(r[1]) for r in rows)
    for name, k, v, unit, cnt in rows:
        print(f"{name:15s} {k:{w}s} {v:14.4f} {unit:16s} n={cnt}")
    print(json.dumps({"correct": ok, "rows": len(rows)}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["petro_batch", "petro_notebook",
                             "corpus_dedup", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
