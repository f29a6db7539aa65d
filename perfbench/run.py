"""Benchmark of the engine: the paper's virus-analysis programs and a set
of iterative catalog queries, end to end and layer by layer.

    python3 perfbench/run.py --workload virus_pipeline --seed 7 --seconds 5 --trace 0

Run it from the root of a checkout.  One run is one process driving
``local[<cores>]`` with one closed-loop client: each operation starts
when the previous one ends.  The run

1. starts the SparkSession through the engine's ``session`` layer and
   runs one trivial job (``setup_s`` counts from process start);
2. generates the workload's inputs from ``--seed`` inside the checkout;
3. runs one cold pass, then warm passes until ``--seconds`` have gone,
   checking every pass's outputs outside the timed region;
4. prints a summary line, then one JSON result line.

With ``--trace 0`` the result holds the end-to-end metrics named in
``BENCHMARK.json``.  With ``--trace 1`` the Spark event log is on and
warm passes alternate between untraced and traced; the result holds
the per-layer metrics, taken from the traced passes' spans and event
log (medians over those passes), and ``trace.overhead_s``, the traced
minus the untraced warm-pass wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("virus_pipeline", "catalog_iterative")
#: Size of the generated catalog tables (see tables.py).
CATALOG_SF = 0.01
#: The engine's default driver heap is 8g; the runs need far less.  A
#: fixed heap (initial = maximum) keeps the JVM's resident set from
#: depending on when the collector chose to grow the heap.
DRIVER_MEM = "1g"
#: Engine layer (span layer name) -> metric prefix.  The session layer is
#: timed once per run, at set-up.
LAYERS = {
    "sources": "sources",
    "operators.features": "features",
    "operators.vectorize": "vectorize",
    "ml": "ml",
    "operators.report": "report",
    "plans": "plans",
    "operators.caching": "caching",
}


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its descendants (the
    driver JVM and any Python workers it started), in MiB."""
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run."""

    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.passes: list[dict] = []  # warm passes: wall, traced, phase times
        self.info: dict = {}
        self.spark = None

    # -- set-up -------------------------------------------------------------

    def start_session(self):
        from big_data_virus_analysis_spark.session import get_spark

        from perfbench.spans import Tracer

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        }
        if self.args.trace:
            self.eventlog_dir = os.path.join(self.dir, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, enabled=bool(self.args.trace))
        with self.tracer.span("session", "first_job", "exec"):
            self.spark.range(1).count()
        self.setup_s = process_age()
        self.session_start_s = time.time() - t0
        self.tracer.enabled = False

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit (it exits when
        its stdin closes)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- passes -------------------------------------------------------------

    def measure(self, one_pass) -> None:
        """Cold pass, then warm passes for ``--seconds``; in a traced run
        the warm passes alternate untraced, traced."""
        # inputs and oracles are ready: from here on the peak resident set
        # is the program's
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        self.cold_pass_s = one_pass(0, traced=False)["wall"]
        start, n = time.perf_counter(), 1
        while True:
            traced = bool(self.args.trace) and n % 2 == 0
            rec = one_pass(n, traced=traced)
            rec["traced"] = traced
            self.passes.append(rec)
            n += 1
            done = time.perf_counter() - start >= self.args.seconds
            if done and (not self.args.trace or n > 2):
                break

    def count(self, ops: int, problems: list[str], failed_ops: int) -> None:
        self.attempted += ops
        self.failed += failed_ops
        self.problems.extend(problems)

    def virus_pipeline(self) -> None:
        from perfbench import corpus as gen
        from perfbench import pipeline as P

        data = os.path.join(self.dir, "corpus")
        c = gen.generate(data, self.args.seed)
        expected = gen.oracle(c, k=P.TOP_K)
        self.info["corpus"] = expected.stats
        self.layer_inputs = {"sources.files": expected.stats["logs"]}

        def one_pass(n: int, traced: bool) -> dict:
            self.tracer.enabled, self.tracer.pass_id = traced, n
            p = P.Pass(self.spark, c, os.path.join(self.dir, f"out{n}"), self.tracer)
            rec, phases = {"phases": {}}, (
                ("feature_job_s", p.feature_job),
                ("cluster_report_s", p.cluster_report),
            )
            start = time.perf_counter()
            done = 0
            try:
                with self.tracer.span("bench", "pass", "pass"):
                    for name, phase in phases:
                        t0 = time.perf_counter()
                        with self.tracer.span("bench", name[:-2], "phase"):
                            phase()
                        rec["phases"][name] = time.perf_counter() - t0
                        done += 1
            except Exception as e:  # counted as failed operations; the run goes on
                self.problems.append(f"pass {n}: {type(e).__name__}: {str(e)[:300]}")
            rec["wall"] = time.perf_counter() - start
            self.tracer.enabled = False
            p.release()
            # an unfinished phase, and a finished one with wrong output, fails
            problems, failed = [], len(phases) - done
            if done >= 1:
                found = P.check_feature_job(p.out, expected)
                problems, failed = problems + found, failed + bool(found)
                rec["survivors"] = p.n_features
                rec["vectorized"] = len(P.read_single_text(f"{p.out}/LIBSVMOutput.txt"))
            if done >= 2:
                found = P.check_cluster_report(p.out, p.tree_json, len(expected.libsvm))
                problems, failed = problems + found, failed + bool(found)
            self.count(len(phases), problems, failed)
            shutil.rmtree(p.out, ignore_errors=True)
            return rec

        self.measure(one_pass)

    def catalog_iterative(self) -> None:
        from perfbench import queries as Q
        from perfbench import tables

        data = os.path.join(self.dir, "tables")
        self.info["documents"] = tables.generate(data, self.args.seed, CATALOG_SF)
        expected = Q.oracle_hashes(data)
        self.layer_inputs = {"sources.files": 0}  # read inside the plans layer

        def one_pass(n: int, traced: bool) -> dict:
            self.tracer.enabled, self.tracer.pass_id = traced, n
            cp = Q.CatalogPass(self.spark, data, expected, self.tracer)
            order = Q.query_order(self.args.seed, n)
            with self.tracer.span("bench", "pass", "pass"):
                cp.run(order)
            self.tracer.enabled = False
            bad = cp.failed + cp.wrong
            self.count(len(order), [f"pass {n}: {q} failed or wrong" for q in bad], len(bad))
            return {"wall": cp.timed_s, "released": cp.released, "phases": {}}

        self.measure(one_pass)

    # -- results ------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        walls = [p["wall"] for p in self.passes if not p["traced"]]
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": self.cold_pass_s,
            "wall_s": median(walls),
            "peak_rss_mb": peak_rss_mb(),
        }

    def per_layer(self) -> dict[str, float]:
        from perfbench import eventlog
        from perfbench.spans import self_times

        (log,) = os.listdir(self.eventlog_dir)
        groups = eventlog.parse_file(os.path.join(self.eventlog_dir, log))
        spans = self.tracer.spans
        per_pass, traced_walls = [], []
        for n, rec in enumerate(self.passes, start=1):
            if not rec["traced"]:
                continue
            mine = [s for s in spans if s.pass_id == n]
            per_pass.append(layer_metrics(mine, groups, self.cores, rec))
            traced_walls.append(rec["wall"])
            # the self times of a pass's spans add up to its traced wall time
            selfs = self_times(mine)
            residual = sum(selfs[s.id] for s in mine if s.kind != "check") - rec["wall"]
            self.info.setdefault("self_time_residual_s", []).append(residual)
        out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
        session = [s for s in spans if s.layer == "session"]
        out["session.start_s"] = self.session_start_s
        out["session.jobs"] = sum(_counter(groups, s, "jobs") for s in session)
        out.update(self.layer_inputs)
        untraced = [p["wall"] for p in self.passes if not p["traced"]]
        out["trace.overhead_s"] = median(traced_walls) - median(untraced)
        out["trace.failed_tasks"] = sum(g.counters["failed_tasks"] for g in groups.values())
        self.tracer.dump(os.path.join(WORK, f"spans-{self.args.workload}-{self.args.seed}.json"))
        return out


def _counter(groups, span, key: str) -> float:
    g = groups.get(str(span.id))
    return g.counters[key] if g else 0


def _took(spans) -> float:
    return sum(s.end - s.start for s in spans)


def layer_metrics(spans, groups, cores: int, rec: dict) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    from perfbench import eventlog
    from perfbench.queries import QUERIES

    out: dict[str, float] = {}
    for layer, short in LAYERS.items():
        mine = [s for s in spans if s.layer == layer and s.kind in ("build", "exec")]
        c = {k: sum(_counter(groups, s, k) for s in mine) for k in eventlog.COUNTERS}
        gap = sum(
            (s.end - s.start) - eventlog.union_length(
                groups[str(s.id)].job_intervals if str(s.id) in groups else [], s.start, s.end)
            for s in mine
        )
        build = _took(s for s in mine if s.kind == "build")
        exe = _took(s for s in mine if s.kind == "exec")
        if short == "caching":
            out["caching.released"] = rec.get("released", 0)
            out["caching.release_s"] = build
            continue
        m = {
            "build_s": build, "exec_s": exe, "driver_gap_s": gap,
            "core_util": c["run_s"] / ((build + exe) * cores) if build + exe > 0 else 0.0,
        }
        for k in ("jobs", "stages", "skipped_stages", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[k] = c[k]
        out.update({f"{short}.{k}": v for k, v in m.items()})
        if short == "sources":
            reads = [s for s in mine if s.name == "read_api_logs" and s.kind == "exec"]
            out["sources.lines"] = sum(_counter(groups, s, "input_records") for s in reads)
            out["sources.read_tasks"] = sum(_counter(groups, s, "tasks") for s in reads)
            out["sources.write_s"] = _took(s for s in mine if s.name == "write_report_text")
            out["sources.bytes_written"] = c["output_bytes"]
            out["sources.input_bytes"] = c["input_bytes"]
        elif short == "plans":
            out["plans.build_jobs"] = sum(_counter(groups, s, "jobs") for s in mine
                                          if s.kind == "build")
            out["plans.exec_jobs"] = c["jobs"] - out["plans.build_jobs"]
            ran = c["stages"] + c["skipped_stages"]
            out["plans.skipped_stage_ratio"] = c["skipped_stages"] / ran if ran else 0.0
            out["plans.input_bytes"] = c["input_bytes"]
            for q in QUERIES:
                for kind in ("build", "exec"):
                    out[f"plans.{q}.{kind}_s"] = _took(s for s in mine
                                                       if s.name == q and s.kind == kind)
        elif short == "ml":
            kmeans = [s for s in mine if s.name == "kmeans_assign"]
            fits = [s for s in kmeans if s.kind == "build"]  # the fit runs eagerly
            out["ml.kmeans_s"] = _took(kmeans)
            out["ml.jobs_per_fit"] = (sum(_counter(groups, s, "jobs") for s in fits) / len(fits)
                                      if fits else 0.0)
    out["features.survivors"] = rec.get("survivors", 0)
    out["vectorize.docs"] = rec.get("vectorized", 0)
    for name in ("feature_job_s", "cluster_report_s"):
        out[f"pipeline.{name}"] = rec["phases"].get(name, 0.0)
    glue = [s for s in spans if s.layer == "bench" and s.kind in ("pass", "phase")]
    out["trace.glue_jobs"] = sum(_counter(groups, s, "jobs") for s in glue)
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import big_data_virus_analysis_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    run = Run(args)
    os.makedirs(run.dir)
    # Spark's scratch space and the JVMs' and Python's temp files stay in
    # the checkout; no JVM writes /tmp/hsperfdata_<user>
    tmp = os.path.join(run.dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        run.start_session()
        getattr(run, args.workload)()
        e2e = run.end_to_end()  # peak RSS is read while the JVM is alive
        run.stop()
        metrics = run.per_layer() if args.trace else e2e
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics missing from this run: {missing}", file=sys.stderr)
        return 3
    ratio = run.failed / run.attempted
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_ops_ratio": f"{run.failed}/{run.attempted} = {ratio:.4f}",
        "samples": {"setup_s": 1, "cold_pass_s": 1,
                    "wall_s": sum(not p["traced"] for p in run.passes)},
        "phases_s": {k: median(v) for k in ("feature_job_s", "cluster_report_s")
                     if (v := [p["phases"][k] for p in run.passes
                               if not p["traced"] and k in p["phases"]])},
        **run.info, "problems": run.problems[:20],
    }
    print("perfbench summary: " + json.dumps(summary))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
