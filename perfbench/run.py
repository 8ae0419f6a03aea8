"""Benchmark of the link-graph engine: one workload per invocation.

    python3 perfbench/run.py --workload superstep_bound --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts a local[nproc] Spark session
through the engine's ``session.get_spark``, warms the JVM up on a tiny
corpus, sets the workload up several times (seeded corpus written to
parquet, plus whatever the workload pre-builds), then runs the
workload's operations back to back — a closed loop with one client —
until ``--seconds`` have passed, at least once through. Every
operation's output is checked afterwards against a Spark-free reference.

The last stdout line is the result, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of ``metrics.END_TO_END``; with
``--trace 1`` the passes are traced instead: each call runs under its
own Spark job group, and the metrics are the per-layer ones of
``metrics.PER_LAYER`` (counters read from Spark's status store),
including the tracing overhead. The line before it
records the run's context (versions, sizes, load).

Everything the run writes stays under the repository root, in
``.perfbench_work/``, which is removed on exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "cim_framework_graph_partitioning_spark"
SETUP_REPS = 3
DRIVER_MEMORY = "4g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_to(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work``, so the run writes nothing outside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts, its launcher included, reads this
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark._jvm.ProcessHandle.current().pid()


def cpu_s(pid: int) -> float:
    """CPU seconds used so far by process ``pid`` (the Spark JVM, which
    runs every task in local mode) and by this driver process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / tick + own.user + own.system


def peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot, from
    /proc/stat. Stolen ticks are those the hypervisor gave to other
    guests; on a shared virtual machine they slow a run without showing
    in the load average. Guest time is already part of user time."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def median(xs):
    return float(statistics.median(xs))


class Run:
    """One invocation: session, set-up, measured sequences, checks.

    A sequence is one pass through the workload's operations, of kind
    "untraced" or "traced", or the traced run's one "durable" sequence.
    """

    def __init__(self, args, cores: int, work: str) -> None:
        self.args = args
        self.cores = cores
        self.work = work
        self.seqs: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def start(self) -> None:
        from cim_framework_graph_partitioning_spark.session import get_spark
        from spans import Tracer
        from workloads import WORKLOADS

        t0 = time.monotonic()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores,
                               driver_memory=DRIVER_MEMORY)
        self.start_s = time.monotonic() - t0
        self.pid = jvm_pid(self.spark)
        self.tracer = Tracer(self.spark) if self.args.trace else None
        self.wl = WORKLOADS[self.args.workload](self.spark, self.args.seed, self.work)
        t0 = time.monotonic()
        self.wl.warmup(traced=bool(self.args.trace))
        self.warmup_s = time.monotonic() - t0
        self.setup_reps = []
        for _ in range(SETUP_REPS):
            t0 = time.monotonic()
            self.wl.setup_once()
            self.setup_reps.append(time.monotonic() - t0)
        self.wl.prepare_references()

    def sequence(self, kind: str) -> None:
        seq = len(self.seqs)
        ops = self.wl.durable_ops(seq) if kind == "durable" else self.wl.ops(seq)
        results = {}
        c0, t0 = cpu_s(self.pid), time.monotonic()
        for op in ops:
            rec = {"op": op.name, "layer": op.layer}
            try:
                if kind == "untraced":
                    t = time.monotonic()
                    rec["out"] = op.run()
                    rec["wall_s"] = time.monotonic() - t
                else:
                    with self.tracer.span(op.layer) as span:
                        rec["out"] = op.run()
                    rec.update(span)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
            results[op.name] = rec
        wall, cpu = time.monotonic() - t0, cpu_s(self.pid) - c0
        facts = self.wl.checkpoint_facts(seq) if kind == "durable" else {}
        self.wl.last.update({k: r.get("out") for k, r in results.items()})
        for op in ops:
            rec = results[op.name]
            self.attempted += 1
            err = rec.get("error")
            if err is None:
                try:
                    err = op.check(rec["out"])
                except Exception:
                    err = traceback.format_exc(limit=3)
            if err:
                self.failed += 1
                self.failures.append(f"sequence {seq} {op.name}: {err}")
        self.wl.end_sequence(seq)
        self.seqs.append({"kind": kind, "wall": wall, "cpu": cpu, "ops": results, **facts})

    def measure(self) -> None:
        seconds = self.args.seconds
        if self.args.trace:
            self.loop(seconds, "traced")
            if self.wl.durable_ops(0):
                self.sequence("durable")
            self.probes()
        else:
            self.loop(seconds, "untraced")

    def loop(self, seconds: float, kind: str) -> None:
        """Closed loop, one client: passes back to back until ``seconds``
        have gone by and the workload's minimum number of passes is done."""
        t0 = time.monotonic()
        for n in itertools.count(1):
            self.sequence(kind)
            if n >= self.wl.min_passes and time.monotonic() - t0 >= seconds:
                return

    def probes(self) -> None:
        """Traced calls outside the passes: the import scan alone, and the
        edge derivation where the workload does not time it itself."""
        with self.tracer.span("functions.text") as span:
            self.refs, self.text_mb = self.wl.text_probe()
        self.text_span = span
        self.edges_span = None
        if not any("derive_edges" in q["ops"] for q in self.seqs):
            self.wl.drop_edges()  # else the derive plan is answered from cache
            with self.tracer.span("operators.edges") as span:
                edges, _ = self.wl.derive()
            edges.unpersist()
            self.edges_span = span

    # -- metrics --------------------------------------------------------

    def of_kind(self, kind: str) -> list[dict]:
        return [q for q in self.seqs if q["kind"] == kind]

    def recs(self, kind: str, op: str) -> list[dict]:
        """The error-free records of ``op`` in sequences of ``kind``."""
        return [q["ops"][op] for q in self.of_kind(kind)
                if op in q["ops"] and "error" not in q["ops"][op]]

    def end_to_end(self) -> dict:
        pr = self.recs("untraced", "pagerank")
        return {
            "setup_s": self.start_s + self.warmup_s + median(self.setup_reps),
            "run_s": median([q["wall"] for q in self.of_kind("untraced")]),
            "run_cpu_s": median([q["cpu"] for q in self.of_kind("untraced")]),
            "edge_steps_per_s": median(
                [self.wl.n_edges * r["out"]["steps"] / r["wall_s"] for r in pr]),
        }

    def per_layer(self) -> dict:
        from metrics import LOOP_LAYERS, OP_COUNTERS, OP_LAYERS, PER_LAYER
        from workloads import STOP_STEP

        out = dict.fromkeys((m["name"] for m in PER_LAYER), 0.0)
        traced = [r for q in self.of_kind("traced") for r in q["ops"].values()
                  if "error" not in r]
        if self.edges_span is not None:
            traced.append({**self.edges_span, "layer": "operators.edges"})

        for layer in OP_LAYERS:
            recs = [r for r in traced if r["layer"] == layer]
            if not recs:
                continue  # the workload never calls this layer
            for c, _, _ in OP_COUNTERS:
                if c == "busy_frac":
                    vals = [r["task_s"] / (r["wall_s"] * self.cores) for r in recs]
                else:
                    vals = [r[c] for r in recs]
                out[f"{layer}.{c}"] = median(vals)
            if layer in LOOP_LAYERS:
                steps = [r["out"]["steps"] for r in recs]
                out[f"{layer}.supersteps"] = median(steps)
                out[f"{layer}.jobs_per_step"] = median(
                    [r["jobs"] / n for r, n in zip(recs, steps)])
                out[f"{layer}.stages_per_step"] = median(
                    [r["stages"] / n for r, n in zip(recs, steps)])
        parts = self.recs("traced", "partition")
        if parts:
            out["operators.partitioner.moves"] = median(
                [sum(h["moves"] for h in r["out"]["history"]) for r in parts])

        out["session.start_s"] = self.start_s
        out["session.warmup_s"] = self.warmup_s
        out["session.peak_rss_mb"] = peak_rss_mb(self.spark)
        out["sources.corpus.write_s"] = median(self.wl.corpus_write_s)
        out["sources.corpus.mb"] = self.wl.corpus_mb()
        out["functions.text.extract_s"] = self.text_span["wall_s"]
        out["functions.text.refs"] = self.refs
        out["functions.text.mb_scanned"] = self.text_mb
        out["operators.edges.edges_per_ref"] = self.wl.n_edges / self.refs
        out["plans.scale.blocks"] = self.blocks()

        sinks = [r["out"]["sink"] for op in ("pagerank", "hits")
                 for r in self.recs("traced", op)]
        steady = [m["superstep_sec"] for s in sinks for m in s if m["superstep"] > 1]
        first = [m["superstep_sec"] for s in sinks for m in s if m["superstep"] == 1]
        if steady:
            out["plans.superstep.step_s_p50"] = median(steady)
        if first:
            out["plans.superstep.first_step_s"] = median(first)
        for durable in self.of_kind("durable"):
            ops = durable["ops"]
            out["plans.superstep.checkpoint_mb"] = durable["checkpoint_mb"]
            out["plans.superstep.checkpoint_files"] = durable["checkpoint_files"]
            for key, op in (("durable_pagerank_s", "durable_pagerank"),
                            ("durable_cc_s", "durable_cc"), ("resume_s", "resume")):
                out[f"plans.superstep.{key}"] = ops[op].get("wall_s", 0.0)  # 0 if it raised
            if "error" not in ops["resume"]:
                out["plans.superstep.resume_steps"] = ops["resume"]["out"]["steps"] - STOP_STEP

        # tracing adds the counter collection after each call to a pass;
        # bench.run_s_traced against run_s of an untraced run shows the same
        # difference, but buried in pass-to-pass noise
        out["bench.run_s_traced"] = median([q["wall"] for q in self.of_kind("traced")])
        out["bench.trace_overhead_s"] = median(
            [sum(r["collect_s"] for r in q["ops"].values() if "collect_s" in r)
             for q in self.of_kind("traced")])
        out["bench.ops_failed_frac"] = self.failed / self.attempted
        return out

    def context(self, load_start, ticks_start) -> dict:
        first = self.seqs[0]["ops"].values()
        stolen, total = cpu_ticks()
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "nproc": self.cores,
            "master": self.spark.sparkContext.master,
            "files": self.wl.n_files,
            "edges": self.wl.n_edges,
            "blocks": self.blocks(),
            "supersteps": {r["op"]: r["out"]["steps"] for q in self.seqs
                           for r in q["ops"].values()
                           if isinstance(r.get("out"), dict) and "steps" in r["out"]},
            "op_wall_s": {r["op"]: round(r["wall_s"], 3) for r in first if "wall_s" in r},
            "sequences": [{"kind": q["kind"], "wall_s": round(q["wall"], 3),
                           "cpu_s": round(q["cpu"], 3)} for q in self.seqs],
            "setup_reps_s": [round(x, 3) for x in self.setup_reps],
            "setup_parts_s": {"start": round(self.start_s, 3),
                              "warmup": round(self.warmup_s, 3)},
            "ops_failed_frac": self.failed / self.attempted,
            "failures": self.failures,
            "load_avg_start": load_start,
            "load_avg_end": list(os.getloadavg()),
            "steal_frac": (stolen - ticks_start[0]) / (total - ticks_start[1]),
            "spark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def blocks(self) -> int:
        from cim_framework_graph_partitioning_spark.plans.scale import auto_blocks
        return auto_blocks(self.wl.n_edges, self.cores)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE} package next to perfbench/; run it from "
              "a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from metrics import END_TO_END, PER_LAYER
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    confine_to(work)
    load_start, ticks_start = list(os.getloadavg()), cpu_ticks()
    run = Run(args, cores, work)
    try:
        run.start()
        run.measure()
        if args.trace:
            values, catalogue = run.per_layer(), PER_LAYER
        else:
            values, catalogue = run.end_to_end(), END_TO_END
        context = run.context(load_start, ticks_start)
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in catalogue}
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
