"""Repository benchmark: one workload, one process, closed loop.

    python3 perfbench/run.py --workload nightly_dag --seed 1 --seconds 10 --trace 0

Boots ``local[N]`` (N = usable cores) over the bundled sf0.1 corpus,
then runs iterations of the workload back to back until ``--seconds``
of iteration time have passed (at least two: one cold, one warm).
Every op's output is hashed against its DuckDB oracle after the
iteration, outside the timed region.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports
the per-layer metrics: it alternates traced and untraced warm
iterations, records spans and counters at each boundary where the
benchmark calls into a layer, and writes the span file and the
per-layer record under ``.perfbench/out/``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  The lines before it name
every metric with its unit, the output-check result and the host
context (cores, load average, CPU pressure) at the start and end.
"""

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import contextlib  # noqa: E402
import datetime as dt  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import probes  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF_DIR = os.path.join(HERE, "data", "sf0.1")
MANIFEST = os.path.join(HERE, "data", "sf0.1.md5")
REQUIRED = ("getdbt_spark/__init__.py", "__spark_entry__.py", "tools/verify_local.py")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def corpus_digest() -> str:
    """Check the bundled corpus against its manifest; return a digest."""
    with open(MANIFEST) as fh:
        manifest = fh.read()
    for line in manifest.splitlines():
        want, name = line.split()
        with open(os.path.join(SF_DIR, name), "rb") as fh:
            if hashlib.md5(fh.read()).hexdigest() != want:
                fail(f"corpus file {name} does not match {MANIFEST}")
    return hashlib.sha256(manifest.encode()).hexdigest()


def prepare_env() -> int:
    """Everything the JVM and its Python workers inherit; returns the
    core count N.  All scratch space (Spark local dirs, checkpoints,
    temp files) stays in WORK."""
    n = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local", "ckpt", "out"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n),
        # Python workers import getdbt_spark too (Arrow kernels).
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        GETDBT_SPARK_CKPT_DIR=os.path.join(WORK, "ckpt"),
        TMPDIR=tmp,
        # PerfDisableSharedMem: no hsperfdata file under the system /tmp.
        PYSPARK_SUBMIT_ARGS=" ".join((
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"),
            "pyspark-shell",
        )),
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    return n


class Bench:
    def __init__(self, args, n: int, digest: str):
        self.args = args
        self.n = n
        self.digest = digest
        self.trace = bool(args.trace)
        self.iterations: list[dict] = []
        self.errors: list[str] = []
        self.tracebacks: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layer_setup: dict[str, float] = {}
        self.spark = None

    # -- setup ---------------------------------------------------------

    def setup(self) -> None:
        from spans import Tracer

        from getdbt_spark import models as M
        from getdbt_spark.io import load_table, run_date_anchor
        from getdbt_spark.queries import load_all
        from getdbt_spark.session import get_spark

        from oracle import Oracles
        from workloads import WORKLOADS, Ctx

        spark = get_spark(app_name="perfbench")
        self.t_boot = time.perf_counter()
        self.spark = spark
        self.jvm = probes.jvm_pid(spark)
        self.py4j = probes.Py4JCounter(spark)
        self.tracer = Tracer(T0, lambda: self.py4j.calls)
        self.sched = probes.Scheduler(spark)
        self.beans = probes.JvmBeans(spark)
        M.load_all()
        load_all()
        m0 = self.sched.mark()
        t = time.perf_counter()
        anchor = run_date_anchor(
            load_table(spark, SF_DIR, "events"), dt.date(2024, 1, 30)
        )
        self.t_ready = time.perf_counter()
        m1 = self.sched.mark()
        self.layer_setup = {
            "session.boot_s": self.t_boot - T0,
            "io.anchor_s": self.t_ready - t,
            "io.anchor_jobs": m1[0] - m0[0],
        }
        self.ctx = Ctx(
            spark=spark,
            sf_dir=SF_DIR,
            anchor=anchor,
            rng=random.Random(self.args.seed),
            work=WORK,
            tracer=self.tracer,
        )
        self.workload = WORKLOADS[self.args.workload](self.ctx)
        self.oracles = Oracles(
            SF_DIR, self.digest, os.path.join(WORK, "oracles.json")
        )
        if self.trace:
            self._instrument()

    def _instrument(self) -> None:
        """Spans around the program's layer boundaries (traced run
        only; every wrapper is a plain call-through while tracing is
        off)."""
        from getdbt_spark import api, fixtures
        from getdbt_spark.runner import Runner

        def written(args, since):
            # Data files (and their partitions) this write left behind.
            runner, model = args[0], args[1]
            files, parts = 0, set()
            for d, _, names in os.walk(runner.table_path(model)):
                for f in names:
                    p = os.path.join(d, f)
                    if f.endswith(".parquet") and os.path.getmtime(p) >= since:
                        files += 1
                        parts.add(d)
            return {"files_written": files, "partitions_written": len(parts)}

        tr = self.tracer
        tr.wrap(fixtures, "sources_map", "fixtures.sources_map")
        api.sources_map = fixtures.sources_map  # api imported it by name
        tr.wrap(Runner, "run", "runner.run")
        tr.wrap(Runner, "_insert_overwrite", "runner.write", count=written)

    # -- iterations ----------------------------------------------------

    def iterate(self, i: int, traced: bool) -> None:
        wl, tr = self.workload, self.tracer
        wl.prepare()
        tr.iteration, tr.active = i, traced
        ops = wl.ops()
        jit0, gc0 = self.beans.jit_s(), self.beans.gc_s()
        m0 = self.sched.mark()
        dcpu0, jcpu0 = probes.self_cpu_s(), probes.tree_cpu_s(self.jvm)
        steal0 = probes.steal_s()
        start = time.perf_counter()
        results, op_recs = [], []
        for name, fn in ops:
            self.attempted += 1
            om0, oc0, ot0 = self.sched.mark(), self.py4j.calls, time.perf_counter()
            try:
                with tr.span(name, top=True):
                    res = fn()
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.failed += 1
                self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                self.tracebacks.append(traceback.format_exc())
                res = None
            ot1, oc1, om1 = time.perf_counter(), self.py4j.calls, self.sched.mark()
            op_recs.append(
                {"op": name, "s": ot1 - ot0, "jobs": om1[0] - om0[0], "py4j_calls": oc1 - oc0}
            )
            results.append((name, res))
        end = time.perf_counter()
        dcpu1, jcpu1 = probes.self_cpu_s(), probes.tree_cpu_s(self.jvm)
        steal1 = probes.steal_s()
        m1 = self.sched.mark()
        tr.active = False
        rec = {
            "iteration": i,
            "traced": traced,
            "start": start - T0,
            "wall_s": end - start,
            "driver_cpu_s": dcpu1 - dcpu0,
            "jvm_cpu_s": jcpu1 - jcpu0,
            "cpu_s": (dcpu1 - dcpu0) + (jcpu1 - jcpu0),
            "jit_s": self.beans.jit_s() - jit0,
            "gc_s": self.beans.gc_s() - gc0,
            "host_steal_s": steal1 - steal0,
            "jobs": m1[0] - m0[0],
            "py4j_calls": sum(o["py4j_calls"] for o in op_recs),
            "ops": op_recs,
        }
        if wl.writes:
            rec["stored_mb"] = _du_mb(wl.warehouse)
        if traced:
            rec["layers"] = self._layers(i, rec, m0, m1, start, end, results)
        self.iterations.append(rec)
        print(
            f"perfbench: iteration {i}{' traced' if traced else ''} "
            f"{rec['wall_s']:.2f} s cpu {rec['cpu_s']:.1f} s jit {rec['jit_s']:.1f} s "
            f"gc {rec['gc_s']:.2f} s steal {rec['host_steal_s']:.1f} s "
            f"jobs {rec['jobs']} py4j {rec['py4j_calls']} | "
            + " ".join(f"{o['op']}={o['s']:.2f}" for o in op_recs),
            flush=True,
        )
        self._check(results)

    def _check(self, results) -> None:
        import pyarrow.parquet as pq

        for name, res in results:
            if res is None or res.oracle is None:
                continue
            out = res.output
            try:
                if isinstance(out, str):
                    out = pq.read_table(out).to_pandas()
                err = self.oracles.check(res.oracle, out)
            except Exception as e:  # noqa: BLE001
                err = f"{name}: check raised {type(e).__name__}: {e}"
            if err is not None:
                self.failed += 1
                self.errors.append(err)

    def _layers(self, i, rec, m0, m1, start, end, results) -> dict:
        from workloads import OPERATOR_IDS

        tr = self.tracer
        st = self.sched.stages(m0[1], m1[1])
        mb = 1 / (1 << 20)
        run_s = st["executorRunTime"] / 1000.0
        cpu_s = st["executorCpuTime"] / 1e9
        wall = end - start
        lay = {
            "fixtures.sources_s": tr.total("fixtures.sources_map", i),
            "fixtures.py4j_calls": tr.total("fixtures.sources_map", i, "py4j_calls"),
            "runner.run_s": tr.total("runner.run", i),
            "runner.write_s": tr.total("runner.write", i),
            "runner.files_written": tr.total("runner.write", i, "files_written"),
            "runner.partitions_written": tr.total(
                "runner.write", i, "partitions_written"
            ),
            "sched.jobs": m1[0] - m0[0],
            "sched.stages": st["stages"],
            "sched.tasks": st["numCompleteTasks"],
            "sched.core_util": run_s / (wall * self.n) if wall > 0 else 0.0,
            "exec.cpu_s": cpu_s,
            "exec.run_s": run_s,
            "exec.offcpu_s": run_s - cpu_s,
            "exec.gc_s": st["jvmGcTime"] / 1000.0,
            "exec.shuffle_read_mb": st["shuffleReadBytes"] * mb,
            "exec.shuffle_write_mb": st["shuffleWriteBytes"] * mb,
            "exec.input_mb": st["inputBytes"] * mb,
            "exec.output_mb": st["outputBytes"] * mb,
            "exec.spill_mb": (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) * mb,
            "driver.py4j_calls": rec["py4j_calls"],
            "driver.cpu_s": rec["driver_cpu_s"],
            "jvm.cpu_s": rec["jvm_cpu_s"],
            "jvm.jit_s": rec["jit_s"],
            "jvm.gc_s": rec["gc_s"],
            "trace.uncovered_frac": tr.uncovered_frac(i, start - T0, end - T0),
        }
        ops = {o["op"]: o for o in rec["ops"]}
        for qid in OPERATOR_IDS:
            o = ops.get(qid)
            lay[f"queries.{qid}.s"] = o["s"] if o else 0.0
            lay[f"queries.{qid}.build_s"] = tr.total(f"queries.{qid}.build", i)
            lay[f"queries.{qid}.jobs"] = o["jobs"] if o else 0
            lay[f"queries.{qid}.py4j_calls"] = o["py4j_calls"] if o else 0
        # Catalyst phases of the plans the ops hand back.  The write
        # and checkpoint actions plan their own QueryExecution, so the
        # executed plan is forced here (outside the timed region) to
        # populate optimization and planning.
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for _, res in results:
            for df in res.frames if res is not None else ():
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                tracked = qe.tracker().phases()
                for ph in phases:
                    opt = tracked.get(ph)
                    if opt.isDefined():
                        phases[ph] += opt.get().durationMs()
        for ph, ms in phases.items():
            lay[f"catalyst.{ph}_ms"] = ms
        # One extra pure build of the same closure for the models layer.
        lay["models.build_s"] = lay["models.build_cpu_s"] = 0.0
        lay["models.build_py4j_calls"] = 0
        if self.workload.model is not None:
            c0, cpu0, t = self.py4j.calls, time.process_time(), time.perf_counter()
            self.workload.pure_build()
            lay["models.build_s"] = time.perf_counter() - t
            lay["models.build_cpu_s"] = time.process_time() - cpu0
            lay["models.build_py4j_calls"] = self.py4j.calls - c0
        return lay

    # -- whole run -----------------------------------------------------

    def run(self) -> dict:
        seconds = self.args.seconds
        measured = 0.0
        i = 0
        # Traced runs trace the even iterations: the cold one, and warm
        # ones each sitting between two untraced neighbours, whose mean
        # cancels the warm-up trend out of the tracing overhead.
        min_iters = 4 if self.trace else 2
        while i < min_iters or measured < seconds:
            self.iterate(i, traced=self.trace and i % 2 == 0)
            measured += self.iterations[-1]["wall_s"]
            i += 1
        return self.metrics()

    def metrics(self) -> dict:
        its = self.iterations
        warm = its[1:]
        if not self.trace:
            return {
                "setup_s": self.t_ready - T0,
                "cold_s": its[0]["wall_s"],
                "warm_s": statistics.median([r["wall_s"] for r in warm]),
                "cpu_s": statistics.median([r["cpu_s"] for r in warm]),
            }
        traced = [r for r in warm if r["traced"]]
        out = {
            k: statistics.median([r["layers"][k] for r in traced])
            for k in traced[0]["layers"]
        }
        out.update(self.layer_setup)
        out["jvm.peak_rss_mb"] = probes.peak_rss_mb(self.jvm)
        out["trace.overhead_frac"] = statistics.median([
            its[k]["wall_s"] / ((its[k - 1]["wall_s"] + its[k + 1]["wall_s"]) / 2) - 1
            for k in range(2, len(its) - 1, 2)
        ])
        out["stored_mb"] = statistics.median([r.get("stored_mb", 0.0) for r in warm])
        out["error_rate"] = self.failed / max(1, self.attempted)
        return out

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers."""
        if self.spark is None:
            return
        tree = probes.proc_tree(self.jvm)
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in tree:
            while _alive(pid):
                if time.time() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    """Running and not yet a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _du_mb(path: str) -> float:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in names)
    return total / (1 << 20)


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the repository (missing {', '.join(missing)})")
    if not os.path.isfile(MANIFEST):
        fail(f"bundled corpus missing: {MANIFEST}")
    n = prepare_env()
    os.chdir(WORK)  # anything Spark writes relative to cwd stays in WORK
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    units = declared_units(bool(args.trace))
    ctx_start = probes.host_context()
    digest = corpus_digest()

    bench = Bench(args, n, digest)
    try:
        bench.setup()
        values = bench.run()
    finally:
        bench.stop()
    ctx_end = probes.host_context()
    if set(values) != set(units):
        fail(f"measured metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": n,
        "host_start": ctx_start,
        "host_end": ctx_end,
        "iterations": bench.iterations,
        "errors": bench.errors,
        "tracebacks": bench.tracebacks,
        "metrics": metrics,
    }
    stem = os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if bench.trace:
        with open(stem + "-spans.json", "w") as fh:
            json.dump(bench.tracer.with_self_time(), fh, indent=1, default=str)

    for e in bench.errors:
        print(f"perfbench: FAILED {e}")
    print(f"perfbench: host start {json.dumps(ctx_start)}")
    print(f"perfbench: host end   {json.dumps(ctx_end)}")
    for k, m in metrics.items():
        print(f"perfbench: {args.workload} {k} = {m['value']:.6g} {m['unit']}")
    correct = bench.failed == 0
    print(
        f"perfbench: {args.workload} output check "
        f"{'OK' if correct else 'FAILED'} ({bench.attempted - bench.failed}/"
        f"{bench.attempted} ops match their oracles); record {stem}.json"
    )
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0



if __name__ == "__main__":
    sys.exit(main())
